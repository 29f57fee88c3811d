"""The declared query inventory: one entry per operator family from
SURVEY.md section 2 plus the LLM-pipeline extension operators, each as a
(Spark DataFrame builder, DuckDB oracle SQL) pair over the driver's
testdata tables (TESTDATA.md).

Conventions for hash-stable differential testing:
- every computed column is aliased identically in Spark and SQL;
- doubles are rounded (sums to 2dp, ratios/cosines to 4-6dp) AFTER
  arithmetic that is arranged to be bit-identical across engines
  (sequential folds, dot/(na*nb) - see operators.similarity);
- timestamps leave the result as epoch microseconds (unix_micros /
  epoch_us) or ISO date strings - never raw timestamp columns;
- all hashing is md5/sha2-based (portable), parameterized from the SAME
  Python constants on both sides.

Each builder takes (spark, sf_dir) and returns a DataFrame. The oracle
dict maps the same keys to SQL strings DuckDB runs against views named
region/nation/customer/supplier/part/orders/lineitem/events/documents/
embeddings over the same parquet files.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.functions.core import (
    fan_out,
    latest_by,
    pii_hash,
    quantize,
)
from ghcrawler_datalake_etl_spark.functions.concurrency import (
    run_concurrently,
)
from ghcrawler_datalake_etl_spark.operators import clustering as CL
from ghcrawler_datalake_etl_spark.operators import dedup as DD
from ghcrawler_datalake_etl_spark.operators import sampling as SP
from ghcrawler_datalake_etl_spark.operators import classifier as CF
from ghcrawler_datalake_etl_spark.operators import search as SR
from ghcrawler_datalake_etl_spark.operators import similarity as SIM
from ghcrawler_datalake_etl_spark.operators import sketches as SK
from ghcrawler_datalake_etl_spark.operators import text as TX
from ghcrawler_datalake_etl_spark.operators.patterns import (
    array_child,
    collection_refresh,
    snapshot_upsert,
)
from ghcrawler_datalake_etl_spark.sources import ivm
from ghcrawler_datalake_etl_spark.streaming import (
    sessionize_batch,
    windowed_event_counts,
)
from ghcrawler_datalake_etl_spark.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver may hand us a session it built itself: pin the runtime-
    # settable confs the oracle comparison depends on (DuckDB timestamps
    # are UTC-naive; session TZ must be UTC or date/epoch casts shift)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # naive parquet timestamps must load as UTC TIMESTAMP, not NTZ:
    # strict chrono functions (unix_micros, watermarks) reject NTZ and
    # the oracle comparison assumes single-zone UTC (session.py)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # CPU-heavy queries fan_out AFTER their filters (a blanket
    # repartition here would sit below the filter and block predicate
    # pushdown to the scan); the dedup/similarity operators fan out
    # internally.
    return load_table(spark, sf_dir, name)


def _store(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` as parquet at ``path`` and read it back under
    the WRITER's schema - the stateful queries' staged-store idiom.
    Threading the known schema into the re-open skips the per-load
    driver footer read (~60 ms of schema inference each, guide section
    6; at warehouse scale the same footer read is a remote GET). The
    re-open is deliberate: downstream consumers must scan the
    MATERIALIZED store (the standing-state contract), not the lineage
    that produced it."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


# DuckDB oracle fragments shared across document queries (defined early:
# f-string oracles below evaluate at import time)
_SH_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)
# coalesce: the Spark twins treat NULL text as '' (empty token list);
# without it a NULL-text doc makes len(toks) NULL, which turns the
# chunk CTE's CASE guards and the repetition shares NULL instead of
# 0/absent and diverges from the Spark side (round-2 ADVICE)
_TOKS_SQL = (
    "list_filter(string_split_regex(lower(coalesce(text, '')), "
    f"'{TX.TOKEN_SPLIT_RE}'), x -> x <> '')"
)


# =====================================================================
# Flagship + aggregation (A2, P7; TPC-H Q1 shape)
# =====================================================================

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# =====================================================================
# Projections / filters (P1, P2, P3, P5, P7 - SURVEY.md 2.2)
# =====================================================================

@register(
    "p1_eq_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           floor(l_extendedprice * (1 - l_discount) * 100) / 100 AS net_price
    FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    """,
)
def p1_eq_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        quantize(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "net_price"
        ),
    )


@register(
    "p2_like_filter",
    """
    SELECT p_partkey, p_name, p_brand FROM part
    WHERE p_name LIKE '%a%e%' AND p_brand LIKE 'Brand%'
    """,
)
def p2_like_filter(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%a%e%") & F.col("p_brand").like("Brand%")
    ).select("p_partkey", "p_name", "p_brand")


@register(
    "p3_isin_filter",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
    GROUP BY o_orderpriority
    """,
)
def p3_isin_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus").isin("F", "P"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "p5_string_predicates",
    """
    SELECT c_custkey, c_name, instr(c_name, '1') AS first_one,
           substr(c_name, 1, 8) AS prefix, length(c_name) AS name_len
    FROM customer
    WHERE starts_with(c_name, 'Customer') AND instr(c_name, '9') > 0
    """,
)
def p5_string_predicates(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_name").startswith("Customer") & (F.instr("c_name", "9") > 0)
    ).select(
        "c_custkey",
        "c_name",
        F.instr("c_name", "1").cast("long").alias("first_one"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("long").alias("name_len"),
    )


# =====================================================================
# Windows (W1 latest-wins, W2 unordered dedup; SURVEY.md 2.7)
# =====================================================================

@register(
    "w1_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, value
    FROM (SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
)
def w1_latest_event_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    latest = latest_by(
        ev.select("user_id", "event_id", "event_type", "value", "ts"),
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
    )
    return latest.select("user_id", "event_id", "event_type", "value")


@register(
    "w1_maxby_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, value
    FROM (SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
)
def w1_maxby_latest_event_per_user(spark, sf_dir):
    """Same semantics through the max_by (hash-agg, sort-free) strategy -
    the 100 TB execution form (SURVEY.md section 4 dedup row)."""
    ev = _t(spark, sf_dir, "events")
    latest = latest_by(
        ev.select("user_id", "event_id", "event_type", "value", "ts"),
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        strategy="max_by",
    )
    return latest.select("user_id", "event_id", "event_type", "value")


@register(
    "w2_distinct_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def w2_distinct_keys(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


@register(
    "topk_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
    WHERE rnk <= 5
    """,
)
def topk_orders_per_segment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
    )


# =====================================================================
# Joins (J1 inner, J2 anti, J3 chain, J4 semi - SURVEY.md 2.3)
# =====================================================================

@register(
    "j1_inner_join_agg",
    """
    SELECT n.n_name, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def j1_inner_join_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "j2_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j2_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j3_join_chain_q5",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def j3_join_chain_q5(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter((F.col("r_name") == "ASIA") & (F.col("o_orderdate") >= "1994-01-01"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "j4_semi_join",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey
                    AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00')
    """,
)
def j4_semi_join(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    recent = li.filter(F.col("l_shipdate") >= "1998-01-01")
    return s.join(
        recent, s.s_suppkey == recent.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "j5_salted_skew_join",
    """
    SELECT e.event_id, e.event_type,
           floor((e.value - m.type_max) * 10000) / 10000 AS value_vs_type_max
    FROM events e
    JOIN (SELECT event_type, max(value) AS type_max
          FROM events GROUP BY event_type) m
      ON e.event_type = m.event_type
    """,
)
def j5_salted_skew_join(spark, sf_dir):
    """Skew rewrite: events' join key (event_type) has ~5 hot values, so
    an unsalted shuffle join lands everything on 5 reduce tasks at any
    scale. salted_join spreads each hot key over n_salt sub-keys;
    results are identical to the plain join (that IS the oracle)."""
    from ghcrawler_datalake_etl_spark.operators import joins as JN

    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.max("value").alias("type_max"))
    joined = JN.salted_join(
        ev.select("event_id", "event_type", "value"), dim,
        ["event_type"], "inner", n_salt=8,
    )
    return joined.select(
        "event_id",
        "event_type",
        quantize(F.col("value") - F.col("type_max"), 4).alias("value_vs_type_max"),
    )


@register(
    "j6_bloom_prefilter_join",
    """
    SELECT c.c_mktsegment,
           cast(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN (SELECT c_custkey, c_mktsegment FROM customer
          WHERE c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j6_bloom_prefilter_join(spark, sf_dir):
    """Sketch-driven runtime-filter join (operators/joins.
    bloom_prefiltered_join): a Bloom filter of the selective customer
    dim's keys (broadcast, <= m rows no matter the dim size)
    prefilters orders BEFORE the shuffle join, so non-matching fact
    rows never enter the exchange. Semantically transparent - no false
    negatives, and the exact join removes the false positives - which
    is why the oracle is the PLAIN join. The shuffle-side benefit
    appears when the dim is too large to broadcast; at any size the
    results are identical (that IS the contract)."""
    from ghcrawler_datalake_etl_spark.operators import joins as JN

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    joined = JN.bloom_prefiltered_join(o, dim, "o_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "a5_distinct_count_two_stage",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def a5_distinct_count_two_stage(spark, sf_dir):
    """COUNT(DISTINCT) over a hot group key, as the two-stage
    hash-aggregate rewrite (no task ever holds a whole group's
    distinct set)."""
    from ghcrawler_datalake_etl_spark.operators import joins as JN

    ev = _t(spark, sf_dir, "events")
    return JN.two_stage_distinct_count(ev, ["event_type"], "user_id", "n_users")


@register(
    "asof_last_purchase",
    """
    SELECT e.event_id, e.user_id, e.ts, p.pts AS last_purchase_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT user_id, ts AS pts FROM events
                    WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND p.pts <= e.ts
    """,
)
def asof_last_purchase(spark, sf_dir):
    """As-of join: every click event matched to the same user's most
    recent prior purchase. The Spark side is the single-shuffle
    union+sort merge formulation; the oracle is DuckDB's native ASOF
    JOIN - two different algorithms, same rows."""
    from ghcrawler_datalake_etl_spark.operators import temporal as TP

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    return TP.asof_join(
        clicks, purchases, ["user_id"], "ts", "pts", direction="backward",
        suffix="",
    ).select(
        "event_id", "user_id", "ts",
        F.col("pts").alias("last_purchase_ts"),
    )


@register(
    "asof_next_purchase",
    """
    SELECT e.event_id, e.user_id, e.ts, p.pts AS next_purchase_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT user_id, ts AS pts FROM events
                    WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND p.pts >= e.ts
    """,
)
def asof_next_purchase(spark, sf_dir):
    """Forward as-of join: every click matched to the same user's NEXT
    purchase at-or-after it (time-to-conversion analyses). Same
    single-shuffle merge as the backward form with the sort mirrored;
    the oracle flips DuckDB ASOF's inequality."""
    from ghcrawler_datalake_etl_spark.operators import temporal as TP

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    return TP.asof_join(
        clicks, purchases, ["user_id"], "ts", "pts", direction="forward",
        suffix="",
    ).select(
        "event_id", "user_id", "ts",
        F.col("pts").alias("next_purchase_ts"),
    )


@register(
    "range_interval_join",
    """
    SELECT s.user_id AS window_user, s.ts AS window_start,
           count(e.event_id) AS n_events
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
    JOIN events e
      ON e.ts >= s.ts AND e.ts <= s.ts + INTERVAL 2 HOUR
    GROUP BY s.user_id, s.ts
    """,
)
def range_interval_join(spark, sf_dir):
    """Interval (range) join with NO equi key: every signup opens a
    2-hour window; count all events (any user) landing inside it. The
    Spark side bins timestamps so the range predicate becomes an
    equi-join on bin id instead of a nested-loop join."""
    from ghcrawler_datalake_etl_spark.operators import temporal as TP

    ev = _t(spark, sf_dir, "events")
    windows = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("window_user"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
    )
    joined = TP.interval_join(
        ev.select("event_id", "ts"), windows, "ts", "win_start", "win_end",
        bin_seconds=7200,
    )
    return joined.groupBy(
        "window_user", F.col("win_start").alias("window_start")
    ).agg(F.count("event_id").alias("n_events"))


# =====================================================================
# Aggregations / set ops / scalar functions (A1, A3, A4, F1, F3, F9, F10)
# =====================================================================

@register(
    "a1_collect_reassembly",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def a1_collect_reassembly(spark, sf_dir):
    """MAP_AGG analog (A1): reassemble exploded rows into one value per
    group - here a sorted joined set, hash-stable across engines."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
    )


@register(
    "a4_union_all_agg",
    """
    SELECT bucket, count(*) AS n FROM (
      SELECT 'high' AS bucket FROM orders WHERE o_totalprice >= 150000
      UNION ALL
      SELECT 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
    ) t GROUP BY bucket
    """,
)
def a4_union_all_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    high = o.filter(F.col("o_totalprice") >= 150000).select(
        F.lit("high").alias("bucket")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("bucket")
    )
    return high.unionByName(urgent).groupBy("bucket").agg(F.count("*").alias("n"))


@register(
    "f1_json_extract",
    """
    SELECT CASE WHEN json_valid(props)
                THEN json_extract_string(props, 'k') END AS k_value,
           count(*) AS n
    FROM events GROUP BY k_value
    """,
)
def f1_json_extract(spark, sf_dir):
    """The Utility.GetString path-extraction analog over raw JSON (F1)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.get_json_object("props", "$.k").alias("k_value")
    ).groupBy("k_value").agg(F.count("*").alias("n"))


@register(
    "f3_pii_pseudonymize",
    """
    SELECT c_custkey, sha256(c_name) AS name_pseudonym FROM customer
    """,
)
def f3_pii_pseudonymize(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", pii_hash(F.col("c_name")).alias("name_pseudonym")
    )


@register(
    "f10_greatest_last_touched",
    """
    SELECT CAST(greatest(l.l_shipdate, o.o_orderdate) AS DATE)::VARCHAR AS last_touched,
           count(*) AS n
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY last_touched
    """,
)
def f10_greatest_last_touched(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.greatest(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("date")
            .cast("string")
            .alias("last_touched")
        )
        .groupBy("last_touched")
        .agg(F.count("*").alias("n"))
    )


# =====================================================================
# Explode / table-valued ops (X1, X3 - SURVEY.md 2.5)
# =====================================================================

@register(
    "x3_posexplode_tokens",
    f"""
    SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '{TX.TOKEN_SPLIT_RE}'),
                             x -> x <> '') AS toks
          FROM documents WHERE doc_id < 50) t
    """,
)
def x3_posexplode_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 50)
        .select("doc_id", TX.tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id", F.posexplode("toks").alias("pos", "token")
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )


# =====================================================================
# ETL patterns A-E emulated over the events stream (SURVEY.md 2.9)
# =====================================================================

_CUTOFF = "2024-01-10 00:00:00"


@register(
    "pattern_b_array_child",
    """
    WITH parent AS (
      SELECT user_id, CAST(ts AS DATE) AS crawl_day,
             max(ts) AS processed_at,
             list_sort(list(event_id)) AS items
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), latest AS (
      SELECT user_id, items FROM (
        SELECT user_id, items,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY processed_at DESC, crawl_day DESC) AS rn
        FROM parent) t WHERE rn = 1
    )
    SELECT user_id, generate_subscripts(items, 1) - 1 AS child_id,
           unnest(items) AS event_id
    FROM latest
    """,
)
def pattern_b_array_child(spark, sf_dir):
    """Pattern B machinery (nested-array child table, 7 reference tables
    e.g. CommitFile /root/reference/USQL/ProcessDaily.usql:252-351): each
    (user, day) is a crawled parent document whose array column is that
    day's event ids; dedupe parents FIRST (latest crawl per user wins,
    the RowNumber==1-inside-the-explode-filter of :292), then posexplode
    with the position as the child id - replacing the reference's
    explode/parse-index/MAP_AGG pipeline (X3)."""
    ev = _t(spark, sf_dir, "events")
    parents = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("crawl_day")
    ).agg(
        F.max("ts").alias("processed_at"),
        F.sort_array(F.collect_list("event_id")).alias("items"),
    )
    latest = latest_by(
        parents, ["user_id"], [F.col("processed_at"), F.col("crawl_day")]
    )
    child = array_child(
        latest, "items", ["user_id"], "child_id", element_alias="event_id"
    )
    return child.select(
        "user_id", F.col("child_id").cast("long").alias("child_id"), "event_id"
    )


@register(
    "pattern_a_snapshot_upsert",
    """
    SELECT user_id, event_type, event_id, value
    FROM (SELECT user_id, event_type, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE ts IS NOT NULL) t
    WHERE rn = 1
    """,
)
def pattern_a_snapshot_upsert(spark, sf_dir):
    """Pattern A machinery over events: 'snapshot' = events before the
    cutoff, 'new day' = events after; latest wins per (user, type)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts"
    )
    snapshot = ev.filter(F.col("ts") < _CUTOFF)
    new_day = ev.filter(F.col("ts") >= _CUTOFF)
    merged = snapshot_upsert(
        new_day,
        snapshot,
        keys=["user_id", "event_type"],
        order_by=[F.col("ts")],
        tiebreakers=["event_id"],
    )
    return merged.select("user_id", "event_type", "event_id", "value")


@register(
    "pattern_c_collection_refresh",
    f"""
    WITH pages AS (
      SELECT user_id, CAST(ts AS DATE) AS page_date,
             list_sort(list(DISTINCT event_type)
                       FILTER (event_type IS NOT NULL)) AS resources,
             max(ts) AS processed_at
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), latest_new AS (
      SELECT user_id, resources FROM (
        SELECT user_id, resources,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY processed_at DESC, page_date DESC) AS rn
        FROM pages WHERE page_date >= DATE '2024-01-10') t WHERE rn = 1
    ), latest_old AS (
      SELECT user_id, resources FROM (
        SELECT user_id, resources,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY processed_at DESC, page_date DESC) AS rn
        FROM pages WHERE page_date < DATE '2024-01-10') t WHERE rn = 1
    )
    SELECT user_id, unnest(resources) AS member FROM latest_new
    UNION
    SELECT o.user_id, unnest(o.resources) AS member FROM latest_old o
    WHERE NOT EXISTS (SELECT 1 FROM latest_new n WHERE n.user_id = o.user_id)
    """,
)
def pattern_c_collection_refresh(spark, sf_dir):
    """Pattern C machinery over events: each (user, day) is a collection
    page listing the day's distinct event types; refresh-by-owner with
    carryover for users not seen after the cutoff."""
    ev = _t(spark, sf_dir, "events")
    pages = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("page_date"))
        .agg(
            F.sort_array(F.collect_set("event_type")).alias("resources"),
            F.max("ts").alias("processed_at"),
        )
    )
    new_pages = pages.filter(F.col("page_date") >= "2024-01-10")
    old_pages = pages.filter(F.col("page_date") < "2024-01-10")
    existing = collection_refresh(
        old_pages.withColumnRenamed("user_id", "owner"),
        None,
        origin_col="owner",
        member_col="member",
        page_order=[F.col("processed_at"), F.col("page_date")],
    )
    refreshed = collection_refresh(
        new_pages.withColumnRenamed("user_id", "owner"),
        existing,
        origin_col="owner",
        member_col="member",
        page_order=[F.col("processed_at"), F.col("page_date")],
    )
    return refreshed.select(F.col("owner").alias("user_id"), "member")


@register(
    "pattern_d_traffic_series",
    """
    SELECT event_type, CAST(ts AS DATE)::VARCHAR AS data_date,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def pattern_d_traffic_series(spark, sf_dir):
    """Pattern D machinery (pattern A's upsert over series rows): two
    overlapping 'fetches' of the daily series (split at the cutoff,
    re-reporting the cutoff day) deduped on the natural key
    (event_type, data_date) - latest fetch wins; both fetches
    report identical values so the result equals the direct aggregate."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("data_date")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    fetch1 = daily.filter(F.col("data_date") <= "2024-01-10").withColumn(
        "fetched_at", F.lit(1)
    )
    fetch2 = daily.filter(F.col("data_date") >= "2024-01-10").withColumn(
        "fetched_at", F.lit(2)
    )
    merged = snapshot_upsert(
        fetch2,
        fetch1,
        keys=["event_type", "data_date"],
        order_by=[F.col("fetched_at")],
    )
    return merged.select("event_type", "data_date", "n", "total_value")


@register(
    "pattern_e_version_log",
    """
    SELECT user_id, version_date, event_id, event_type
    FROM (SELECT user_id, CAST(ts AS DATE)::VARCHAR AS version_date,
                 event_id, event_type,
                 row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
)
def pattern_e_version_log(spark, sf_dir):
    """Pattern E: keep one row per (entity, version) - here the latest
    event per user per day, every day retained (vs pattern A's single
    latest row per user)."""
    ev = _t(spark, sf_dir, "events")
    versions = latest_by(
        ev.select(
            "user_id",
            F.col("ts").cast("date").cast("string").alias("version_date"),
            "event_id",
            "event_type",
            "ts",
        ),
        ["user_id", "version_date"],
        [F.col("ts"), F.col("event_id")],
    )
    return versions.select("user_id", "version_date", "event_id", "event_type")


# =====================================================================
# Streaming surface (windowed aggregation; SURVEY.md 2.10)
# =====================================================================

@register(
    "sessionize_events",
    """
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ids AS (
      -- replay the marked window's total (ts, event_id) order: under
      -- a leading-timestamp tie, ORDER BY ts_us alone could sum the
      -- flags in a different row order and split the tie rows into
      -- different sessions than the flag assignment assumed
      SELECT user_id, ts_us, value,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM ids GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30 min) - the batch form of the custom
    stateful operator; the applyInPandasWithState streaming form is
    verified against this in tests/test_streaming_stateful.py."""
    ev = _t(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30)


@register(
    "stream_windowed_counts",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_windowed_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window_duration="1 hour")
    return out.select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "embedding_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS mx
      FROM embeddings
    )
    SELECT e.vec_id,
           array_to_string(list_transform(e.embedding,
             v -> cast(cast(floor(v::DOUBLE *
                    (CASE WHEN s.mx > 0 THEN 127.0 / s.mx ELSE 0.0 END) + 0.5)
                  AS INTEGER) AS VARCHAR)), ',') AS q8_csv,
           floor((CASE WHEN s.mx > 0 THEN 127.0 / s.mx ELSE 0.0 END)
                 * 1000000) / 1000000 AS scale
    FROM embeddings e JOIN s USING (vec_id)
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (operators/similarity.py
    quantize_embeddings_int8): 4x smaller embedding storage/shuffle for
    candidate-generation passes; floor(x+0.5) rounding because round()'s
    half-case convention is engine-specific. The q8 array is projected
    to a CSV string here: the driver's canonicalizer pandas-sorts every
    output column and list values are unhashable - result columns must
    be scalar."""
    emb = _t(spark, sf_dir, "embeddings")
    q = SIM.quantize_embeddings_int8(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("q8"), lambda v: v.cast("string")), ","
        ).alias("q8_csv"),
        "scale",
    )


def _proj_oracle(out_dim: int = 8, dim: int = 64, seed: int = 42) -> str:
    """Random-projection oracle: the SAME seeded Rademacher matrix
    (similarity.projection_matrix), each coordinate an unrolled
    left-associated +/- chain matching the Spark fold's association."""
    rows = SIM.projection_matrix(dim, out_dim, seed)
    cols = []
    for j, row in enumerate(rows):
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * ({w})" for i, w in enumerate(row)
        )
        cols.append(
            f"floor(({terms}) * 1000000) / 1000000 AS p{j}"
        )
    sel = ",\n           ".join(cols)
    return f"""
    SELECT vec_id,
           {sel}
    FROM embeddings WHERE embedding IS NOT NULL
    """


@register("embedding_random_projection", _proj_oracle(8, 64, 42))
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss +/-1 projection
    (operators/similarity.project_embeddings): 64 -> 8 dims with a
    seeded md5-derived Rademacher matrix - the cheap distance-
    preserving pre-filter for candidate generation. Exact cross-engine:
    integer weights, sequential element-order fold, 6dp floor."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.project_embeddings(
        emb, "vec_id", "embedding", out_dim=8, dim=64, seed=42
    )


@register(
    "stream_static_enrich",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, c_mktsegment,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY date_trunc('hour', ts), c_mktsegment
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment then windowed aggregate - the batch twin
    of streaming/ingest.py enrich_with_dim (the true streaming form is
    pinned against this in tests/test_streaming_stateful.py). The dim
    broadcasts, so on a stream each micro-batch joins without shuffling
    the stream side."""
    from ghcrawler_datalake_etl_spark.streaming.ingest import enrich_with_dim

    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = enrich_with_dim(ev, c, F.col("user_id") == F.col("c_custkey"))
    return (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("win"), F.col("c_mktsegment")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )


# =====================================================================
# Analytics beyond the reference surface: percentiles, rollup, pivot
# (the reference has NO aggregates at all - SURVEY.md 2.4 - these are
# the missing-but-standard analytics a warehouse user expects)
# =====================================================================

@register(
    "agg_value_percentiles",
    """
    SELECT event_type,
           count(*) AS n,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90,
           quantile_disc(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)
def agg_value_percentiles(spark, sf_dir):
    """Exact DISCRETE percentiles (an actual data element, so the result
    is bit-identical across engines - continuous interpolation is not:
    (1-f)*a+f*b vs a+(b-a)*f differ in float rounding)."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_ev_pctl")
    return spark.sql("""
      SELECT event_type,
             count(*) AS n,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99
      FROM _ev_pctl GROUP BY event_type
    """)


@register(
    "agg_rollup_daily",
    # HAVING n > 0 pins Spark's empty-input semantics: Spark's rollup
    # emits NO rows over an empty frame, while the SQL-spec grand-total
    # grouping set (which DuckDB follows) emits one (NULL, NULL, 0,
    # NULL) row; only that row can ever have count 0, so the HAVING is
    # a no-op on any non-empty input.
    """
    SELECT event_type, CAST(ts AS DATE)::VARCHAR AS day,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE)::VARCHAR)
    HAVING count(*) > 0
    """,
)
def agg_rollup_daily(spark, sf_dir):
    """ROLLUP hierarchy (type+day / type / grand total) in one pass -
    Spark plans one shuffle with grouping-set expansion map-side."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup(
        "event_type", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_user_event_matrix",
    f"""
    SELECT user_id,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
                      for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def pivot_user_event_matrix(spark, sf_dir):
    """Wide user x event-type count matrix. The pivot column list is
    DECLARED, not discovered - at 100 TB an undeclared pivot forces an
    extra distinct-scan job before the real one can even plan. Written
    as conditional aggregation rather than .pivot(): same result, ONE
    exchange (df.pivot plans a (user,type) pre-aggregate plus a
    pivotfirst aggregate = two shuffles; count-when is a single
    map-side-combinable aggregate over user_id)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ]
    )


@register(
    "w3_lag_event_gaps",
    """
    SELECT user_id, event_id,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
    """,
)
def w3_lag_event_gaps(spark, sf_dir):
    """LAG over a TOTAL order (ts, event_id) - the unique tiebreak is what
    makes the result cross-engine deterministic. Integer seconds, so no
    float canon issues; first event per user is NULL on both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
            "gap_s"
        ),
    )


@register(
    "w4_rank_quartiles",
    """
    SELECT c_custkey, c_mktsegment,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY floor(c_acctbal / 1000) DESC)
    """,
)
def w4_rank_quartiles(spark, sf_dir):
    """rank/dense_rank over a COARSE key (real ties - both are tie-stable,
    so no tiebreak needed) plus ntile over a TOTAL order (ntile assigns by
    row position, so it does need the unique tiebreak)."""
    c = _t(spark, sf_dir, "customer")
    w_tie = Window.partitionBy("c_mktsegment").orderBy(
        F.floor(F.col("c_acctbal") / 1000).desc()
    )
    w_total = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w_tie).alias("rnk"),
        F.dense_rank().over(w_tie).alias("drnk"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


@register(
    "setop_user_cohorts",
    """
    SELECT 'both' AS cohort, user_id FROM
      (SELECT user_id FROM events WHERE event_type = 'purchase'
       INTERSECT
       SELECT user_id FROM events WHERE event_type = 'error') t1
    UNION ALL
    SELECT 'purchase_only' AS cohort, user_id FROM
      (SELECT user_id FROM events WHERE event_type = 'purchase'
       EXCEPT
       SELECT user_id FROM events WHERE event_type = 'error') t2
    """,
)
def setop_user_cohorts(spark, sf_dir):
    """INTERSECT / EXCEPT (distinct set semantics). Spark plans both as
    aggregated joins: distinct -> left semi / left anti, all map-side
    combinable; one scan feeds both branches."""
    ev = _t(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errored = ev.filter(F.col("event_type") == "error").select("user_id")
    both = purchasers.intersect(errored)
    only = purchasers.subtract(errored)
    return both.select(F.lit("both").alias("cohort"), "user_id").unionByName(
        only.select(F.lit("purchase_only").alias("cohort"), "user_id")
    )


@register(
    "q3_unshipped_topk",
    """
    SELECT o_orderkey, revenue, rnk FROM (
      SELECT o.o_orderkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             row_number() OVER (
               ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                        DESC, o.o_orderkey) AS rnk
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY o.o_orderkey) t
    WHERE rnk <= 10
    """,
)
def q3_unshipped_topk(spark, sf_dir):
    """TPC-H Q3 shape: selective join -> per-order revenue -> global top 10.
    orderBy().limit(k) compiles to TakeOrderedAndProject: each partition
    keeps its own k rows and only those merge at the driver - no global
    sort, no single-task window, survives any row count. The rank column
    is attached AFTER the limit (a window over 10 rows is free)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = "1995-03-15"
    top = (
        li.filter(F.col("l_shipdate") > cut)
        .join(o.filter(F.col("o_orderdate") < cut), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    return top.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        ),
    )


@register(
    "funnel_click_to_purchase",
    """
    WITH c AS (SELECT user_id, min(ts) AS first_click
               FROM events WHERE event_type = 'click' GROUP BY user_id),
    p AS (SELECT c.user_id, min(e.ts) AS conv_ts
          FROM c JOIN events e
            ON e.user_id = c.user_id AND e.event_type = 'purchase'
           AND e.ts >= c.first_click
          GROUP BY c.user_id)
    SELECT c.user_id, epoch_us(c.first_click) AS first_click_us,
           epoch_us(p.conv_ts) AS conv_us,
           date_diff('second', c.first_click, p.conv_ts) AS secs_to_convert
    FROM c LEFT JOIN p USING (user_id)
    """,
)
def funnel_click_to_purchase(spark, sf_dir):
    """Ordered two-step funnel: first click, then the first purchase
    AT-OR-AFTER it (the ordering constraint is what separates a funnel
    from two independent mins); non-converters kept with NULLs. Two
    map-side-combinable min-aggregates + one join - no per-user event
    sorting, so it scales with users, not events."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    return clicks.join(conv, "user_id", "left").select(
        "user_id",
        F.unix_micros("first_click").alias("first_click_us"),
        F.unix_micros("conv_ts").alias("conv_us"),
        (
            F.unix_timestamp("conv_ts") - F.unix_timestamp("first_click")
        ).alias("secs_to_convert"),
    )


@register(
    "locf_fill_forward",
    """
    WITH x AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' AND json_valid(props)
                  THEN json_extract_string(props, 'k')::BIGINT END AS obs
      FROM events)
    SELECT event_id, user_id, obs,
           last_value(obs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
             ROWS UNBOUNDED PRECEDING) AS obs_filled
    FROM x
    """,
)
def locf_fill_forward(spark, sf_dir):
    """Last-observation-carried-forward (operators/temporal.py
    fill_forward): only purchase events carry an observation; every
    other event inherits the user's most recent one. Total order
    (ts, event_id) makes the fill engine-deterministic; integer
    observations keep the comparison exact."""
    from ghcrawler_datalake_etl_spark.operators.temporal import fill_forward

    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.get_json_object("props", "$.k").cast("long"),
        ).alias("obs"),
    )
    return fill_forward(
        staged, ["obs"], partition_by=["user_id"], order_by=["ts", "event_id"]
    ).select("event_id", "user_id", "obs", "obs_filled")


@register(
    "timeseries_interpolate",
    """
    WITH x AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CASE WHEN event_type = 'purchase' THEN value END AS obs
      FROM events WHERE ts IS NOT NULL
    ), n AS (
      SELECT event_id, user_id, tus, obs,
             last_value(CASE WHEN obs IS NOT NULL
                             THEN struct_pack(t := tus, v := obs) END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
             first_value(CASE WHEN obs IS NOT NULL
                              THEN struct_pack(t := tus, v := obs) END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f
      FROM x
    )
    SELECT event_id, user_id, obs,
           CASE WHEN obs IS NOT NULL THEN obs
                WHEN p IS NOT NULL AND f IS NOT NULL AND f.t <> p.t
                THEN floor((p.v + (f.v - p.v) *
                            ((tus - p.t)::DOUBLE / (f.t - p.t)))
                           * 1000000) / 1000000
           END AS obs_interp
    FROM n
    """,
)
def timeseries_interpolate(spark, sf_dir):
    """Round-11: linear gap interpolation
    (operators/temporal.interpolate_linear) - the INTERIOR complement
    of locf_fill_forward: a non-purchase event's missing observation
    takes the value on the straight line between the user's
    neighboring purchase observations over exact microsecond
    timestamps; leading/trailing gaps (no neighbor on one side) stay
    NULL - that is LOCF's job, not a line's. Both neighbor scans ride
    ONE window sort; the arithmetic order (prev + (next - prev) *
    frac, integer time deltas, one double division) is mirrored
    exactly in the oracle and floor-quantized. NULL timestamps are
    excluded explicitly (NULL window-order placement diverges between
    engines)."""
    from ghcrawler_datalake_etl_spark.operators.temporal import (
        interpolate_linear,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    staged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "obs"
        ),
    )
    return interpolate_linear(
        staged, "obs", "ts", partition_by=["user_id"],
        tiebreak=["event_id"],
    ).select(
        "event_id", "user_id", "obs",
        F.col("obs_interp").alias("obs_interp"),
    )


@register(
    "q18_large_quantity_orders",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, round(t.total_qty, 2) AS total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 150) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_quantity_orders(spark, sf_dir):
    """TPC-H Q18 shape: aggregate -> HAVING -> join back to dims. The
    HAVING filter runs on the aggregate's output partitioning, so the
    big lineitem scan is reduced to the few qualifying orderkeys BEFORE
    any join; quantities are whole numbers, so the double sum is exact
    and the > 150 cut is engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


@register(
    "subquery_lineitem_count",
    """
    SELECT o_orderkey, o_orderpriority,
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS n_lines
    FROM orders o
    WHERE (SELECT count(*) FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey) >= 6
    """,
)
def subquery_lineitem_count(spark, sf_dir):
    """Correlated scalar subquery: Catalyst de-correlates it into an
    aggregate + join (RewriteCorrelatedScalarSubquery), so the per-row
    'subquery' costs one shuffle total, not one probe per row - the
    property that lets subquery-style SQL survive 100 TB."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("_sq_orders")
    li.createOrReplaceTempView("_sq_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority,
               (SELECT count(*) FROM _sq_lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        FROM _sq_orders o
        WHERE (SELECT count(*) FROM _sq_lineitem l
               WHERE l.l_orderkey = o.o_orderkey) >= 6
        """
    )


@register(
    "w5_sliding_hour_frame",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_prev_hour,
           floor(max(value) OVER w * 10000) / 10000 AS max_prev_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def w5_sliding_hour_frame(spark, sf_dir):
    """RANGE frame (trailing 1h per user). Only tie-stable aggregates
    (count, max) - a float SUM over a frame is engine-dependent in the
    last ulp (Spark adds sequentially, DuckDB uses a segment tree), so
    it has no place in a hash-compared result. Spark range frames need a
    numeric sort key: epoch seconds, frame [-3600, 0]."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_prev_hour"),
        quantize(F.max("value").over(w), 4).alias("max_prev_hour"),
    )


@register(
    "corpus_source_report",
    f"""
    SELECT source, lang,
           count(*) AS n_docs,
           cast(sum(n_chars) AS BIGINT) AS sum_chars,
           cast(sum(len({_TOKS_SQL})) AS BIGINT) AS sum_tokens,
           floor(sum(n_chars)::DOUBLE / count(*) * 100) / 100 AS avg_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def corpus_source_report(spark, sf_dir):
    """Corpus composition report: doc/char/token budgets per (source,
    lang) - the first query anyone runs before mixing training data.
    Integer sums are exact (cast BIGINT in the oracle: DuckDB sum(int)
    is HUGEINT, which pandas reads as float64 and hash-mismatches); the
    mean is derived sum/count quantized floor-style (NOT avg()/round():
    float accumulation order and round() half-cases are engine-specific).
    """
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.size(TX.tokenize(F.col("text")))).alias("sum_tokens"),
            quantize(
                F.sum("n_chars").cast("double") / F.count("*"), 2
            ).alias("avg_chars"),
        )
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    HAVING count(*) > 0
    """,
)
def cube_status_priority(spark, sf_dir):
    """CUBE = all 4 grouping sets in one shuffle (grouping-set expansion
    happens map-side, partials combine before the exchange)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# =====================================================================
# Deterministic sampling / splitting (training-data pipeline primitive)
# =====================================================================

_BUCKET_SQL = (
    "cast(('0x' || substr(md5('42' || chr(31) || cast(doc_id AS VARCHAR)), "
    "1, 15)) AS BIGINT) % 1000000"
)


@register(
    "sample_hash_deterministic",
    f"""
    SELECT doc_id, length(text) AS text_len
    FROM documents
    WHERE {_BUCKET_SQL} < 100000
    """,
)
def sample_hash_deterministic(spark, sf_dir):
    """10% deterministic by-key sample: membership is a pure function of
    doc_id (md5 bucket), so every run, engine, and cluster size picks
    the SAME rows - rand()-sampling can't give an oracle at all."""
    d = _t(spark, sf_dir, "documents")
    return SP.hash_sample(d, "doc_id", 0.10, seed=42).select(
        "doc_id", F.length("text").alias("text_len")
    )


@register(
    "sample_stratified_by_lang",
    f"""
    SELECT doc_id, lang, length(text) AS text_len
    FROM documents
    WHERE {_BUCKET_SQL} <
      CASE lang WHEN 'en' THEN 250000
                WHEN 'zh' THEN 1000000
                WHEN 'fr' THEN 600000
                ELSE 0 END
    """,
)
def sample_stratified_by_lang(spark, sf_dir):
    """Corpus rebalancing (operators/sampling.stratified_sample):
    downsample the dominant language, keep all of a rare one, drop
    strata with no assigned fraction. Still one narrow filter - the
    per-stratum threshold is a CASE on the stratum column, so no
    shuffle and no per-stratum scan."""
    d = _t(spark, sf_dir, "documents")
    return SP.stratified_sample(
        d,
        "doc_id",
        "lang",
        {"en": 0.25, "zh": 1.0, "fr": 0.6},
        seed=42,
    ).select("doc_id", "lang", F.length("text").alias("text_len"))


@register(
    "sample_eval_carve",
    f"""
    WITH b AS (SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents),
    fixed AS (
      SELECT doc_id, lang, 'global' AS carve
      FROM b ORDER BY bucket, doc_id LIMIT 40),
    per_lang AS (
      SELECT doc_id, lang, 'per_lang' AS carve FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY bucket, doc_id) AS rn
        FROM b)
      WHERE rn <= 5)
    SELECT doc_id, lang, carve FROM fixed
    UNION ALL
    SELECT doc_id, lang, carve FROM per_lang
    """,
)
def sample_eval_carve(spark, sf_dir):
    """Fixed-SIZE eval-set carving (operators/sampling.sample_fixed_n /
    sample_n_per_group): exactly 40 documents globally (distributed
    top-k, no global sort) plus exactly 5 per language (one window
    partitioned by group). Rate sampling can't promise row counts;
    benchmark carving needs them."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    fixed = SP.sample_fixed_n(d, "doc_id", 40, seed=42).withColumn(
        "carve", F.lit("global")
    )
    per = SP.sample_n_per_group(d, "doc_id", "lang", 5, seed=42).withColumn(
        "carve", F.lit("per_lang")
    )
    return fixed.unionByName(per)


# target mixture for sample_target_mix: ppm shares per language. The
# SAME dict drives the Spark call and (via this f-string) the oracle.
_MIX_PPM = {"en": 400_000, "zh": 200_000, "es": 200_000, "de": 100_000, "fr": 100_000}


@register(
    "sample_target_mix",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tgt(lang, ppm) AS (VALUES {", ".join(f"('{g}', {p})" for g, p in _MIX_PPM.items())}),
    p AS (SELECT t.lang, coalesce(c.n, 0) AS n, t.ppm
          FROM tgt t LEFT JOIN c USING (lang)),
    t AS (SELECT min(n * 1000000 // ppm) AS t FROM p),
    need AS (SELECT lang, ppm * (SELECT t FROM t) // 1000000 AS need FROM p),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_BUCKET_SQL}, doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang
    FROM r JOIN need USING (lang)
    WHERE r.rn <= need.need
    """,
)
def sample_target_mix(spark, sf_dir):
    """Exact-PROPORTION corpus carve (operators/sampling.target_mix_sample):
    the largest sub-corpus whose language composition matches the target
    mixture, binding group determined from the data with pure integer
    arithmetic. stratified_sample fixes rates; this fixes the mix - the
    dataset-curation move for hitting a training recipe's composition."""
    d = _t(spark, sf_dir, "documents")
    return SP.target_mix_sample(d, "doc_id", "lang", _MIX_PPM, seed=42).select(
        "doc_id", "lang"
    )


@register(
    "sample_temperature_mix",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents
               WHERE lang IS NOT NULL GROUP BY lang),
    w AS (SELECT lang, n, sqrt(n::DOUBLE) AS w FROM c),
    tot AS (SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS tw
            FROM w),
    need AS (SELECT lang,
                    least(n, cast(floor(300 * w / (SELECT tw FROM tot))
                                  AS BIGINT)) AS need
             FROM w),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_BUCKET_SQL}, doc_id) AS rn
      FROM documents WHERE lang IS NOT NULL
    )
    SELECT r.doc_id, r.lang
    FROM r JOIN need USING (lang)
    WHERE r.rn <= need.need
    """,
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-weighted source rebalancing (operators/sampling.
    temperature_mix_sample, the XLM-R/mC4 n^alpha recipe at
    alpha = 0.5): per-language quotas proportional to sqrt(n) within a
    300-doc budget - sqrt is IEEE-correctly-rounded, so the float quota
    arithmetic replays bit-identically on both engines (the group-sorted
    weight fold order is part of the contract)."""
    d = _t(spark, sf_dir, "documents")
    return SP.temperature_mix_sample(
        d, "doc_id", "lang", budget=300, alpha=0.5, seed=42
    ).select("doc_id", "lang")


@register(
    "split_train_valid_test",
    f"""
    WITH b AS (SELECT doc_id, {_BUCKET_SQL} AS bucket FROM documents)
    SELECT CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM b GROUP BY 1
    """,
)
def split_train_valid_test(spark, sf_dir):
    """80/10/10 deterministic document splits; disjoint consecutive
    bucket ranges, leakage-free by construction and stable as the
    corpus grows (a key's bucket ignores every other key)."""
    d = _t(spark, sf_dir, "documents")
    tagged = SP.hash_split(
        d, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}, seed=42
    )
    return tagged.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )




@register(
    "pack_token_shards",
    """
    WITH w AS (SELECT doc_id, length(text)::DOUBLE AS wt FROM documents),
    c AS (SELECT doc_id, wt,
            coalesce(sum(wt) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum
          FROM w)
    SELECT CAST(floor(cum / 50000) AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           round(sum(wt), 2) AS shard_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1
    """,
)
def pack_token_shards(spark, sf_dir):
    """Shard packing: documents laid out in key order, a shard closes at
    ~50k chars of cumulative weight (stand-in for a token budget) -
    deterministic training-shard assignment as one distributed sort +
    running window, no driver loop."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.length("text").cast("double").alias("wt")
    )
    packed = SP.pack_shards(w, "doc_id", "wt", 50_000)
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("wt"), 2).alias("shard_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# =====================================================================
# Dedup extensions (exact, n-gram Jaccard, MinHash+LSH, SimHash, cosine)
# =====================================================================

@register(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
           count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_groups(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_md5")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("dup_count")
    )



_NGRAM_PAIRS_SQL = f"""
    WITH sh AS (
      SELECT doc_id, {_SH_SQL} AS sh
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
      WHERE len({_SH_SQL.replace('toks', 'toks')}) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 10000) / 10000
             AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.sh, b.sh))::DOUBLE /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
"""


@register("dedup_ngram_jaccard", _NGRAM_PAIRS_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, materialize_result=True
    )


@register("dedup_prefix_jaccard", _NGRAM_PAIRS_SQL)
def dedup_prefix_jaccard(spark, sf_dir):
    """Round-9: the SAME exact answer as dedup_ngram_jaccard through a
    different candidate strategy - prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07): each document indexes only its
    |x| - ceil(t|x|) + 1 globally-RAREST shingles, and the pigeonhole
    on the smallest common element guarantees every qualifying pair
    still collides. Shares the brute-force oracle with
    dedup_ngram_jaccard because the result is provably identical; the
    plans differ where it matters at 100 TB - the inverted-index
    join's candidate volume is sum(df^2) over ALL shingles (quadratic
    in boilerplate document frequency; its stop-shingle escape hatch
    costs exactness), while the prefix join touches only rare-shingle
    collisions and stays exact."""
    d = _t(spark, sf_dir, "documents")
    return DD.prefix_jaccard_pairs(
        d, "doc_id", DD.shingles(F.col("text"), 3), threshold=0.5
    )


_SHINGLE_CTE_SQL = f"""
    sh AS (
      SELECT doc_id, {_SH_SQL} AS sh
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
      WHERE len({_SH_SQL}) > 0
    )
"""


@register(
    "dedup_span_first_occurrence",
    f"""
    WITH {_SHINGLE_CTE_SQL},
    inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    first AS (SELECT g, min(doc_id) AS first_id FROM inv GROUP BY g)
    SELECT i.doc_id,
           count(*) AS n_shingles,
           count(*) FILTER (WHERE f.first_id < i.doc_id) AS n_dup,
           floor(count(*) FILTER (WHERE f.first_id < i.doc_id)::DOUBLE
                 / count(*) * 10000) / 10000 AS dup_frac
    FROM inv i JOIN first f USING (g)
    GROUP BY i.doc_id
    """,
)
def dedup_span_first_occurrence(spark, sf_dir):
    """C4/RefinedWeb-style span dedup report: per doc, the fraction of
    its shingles first seen in an earlier doc (operators/dedup.py
    duplicate_span_fraction)."""
    d = _t(spark, sf_dir, "documents")
    return DD.duplicate_span_fraction(d, "doc_id", "text", n=3)


@register(
    "decontaminate_eval_overlap",
    f"""
    WITH {_SHINGLE_CTE_SQL},
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
    cand AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0),
    hits AS (SELECT c.doc_id, count(*) AS n_eval_hits
             FROM cand c JOIN ev USING (g) GROUP BY c.doc_id)
    SELECT s.doc_id, len(s.sh) AS n_shingles,
           coalesce(h.n_eval_hits, 0) AS n_eval_hits,
           floor(coalesce(h.n_eval_hits, 0)::DOUBLE / len(s.sh) * 10000)
             / 10000 AS contam_frac
    FROM sh s LEFT JOIN hits h USING (doc_id)
    WHERE s.doc_id % 97 <> 0
    """,
)
def decontaminate_eval_overlap(spark, sf_dir):
    """Benchmark decontamination: candidate docs scored by n-gram overlap
    against an eval set (here the deterministic doc_id % 97 == 0 slice;
    operators/dedup.py contamination_report)."""
    d = _t(spark, sf_dir, "documents")
    return DD.contamination_report(
        d, None, "doc_id", "text", n=3,
        eval_pred=F.col("doc_id") % 97 == 0,
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def dedup_clusters(spark, sf_dir):
    """Pairs -> clusters: connected components over the near-dup pair
    graph by iterative min-label propagation (the genuinely iterative
    dedup step; the oracle is a recursive CTE - two different
    algorithms, same fixpoint). cluster_id = smallest reachable doc_id,
    i.e. the canonical document to keep."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, materialize_result=True
    )
    return DD.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@register(
    "pipeline_dedup_shards",
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    ),
    drop_docs AS (
      SELECT node FROM walk GROUP BY node HAVING node <> min(label)
    ),
    kept AS (
      SELECT doc_id, length(text)::DOUBLE AS wt,
             {_BUCKET_SQL} AS bucket
      FROM documents
      WHERE doc_id NOT IN (SELECT node FROM drop_docs)
    ),
    train AS (SELECT doc_id, wt FROM kept WHERE bucket < 800000),
    packed AS (
      SELECT doc_id, wt,
             coalesce(sum(wt) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM train)
    SELECT CAST(floor(cum / 20000) AS BIGINT) AS shard_id,
           count(*) AS n_docs, round(sum(wt), 2) AS shard_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM packed GROUP BY 1
    """,
)
def pipeline_dedup_shards(spark, sf_dir):
    """The full training-data flow as ONE declarative plan: near-dup
    cluster dedup (keep each cluster's canonical doc) -> deterministic
    80% train split -> pack into ~20k-char shards. Composes
    connected_components + hash_split + pack_shards; every stage has
    exact cross-engine semantics, so the composition does too."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, materialize_result=True
    )
    drop = DD.connected_components(pairs).filter(
        F.col("node") != F.col("cluster_id")
    ).select(F.col("node").alias("doc_id"))
    kept = d.join(F.broadcast(drop), "doc_id", "left_anti")
    train = SP.hash_sample(kept, "doc_id", 0.8, seed=42).select(
        "doc_id", F.length("text").cast("double").alias("wt")
    )
    # materialize: `train` is a narrow (doc_id, wt) projection of the
    # anti-join - cheap to persist, saves the 3 plan branches inside
    # pack_shards re-running the join
    packed = SP.pack_shards(train, "doc_id", "wt", 20_000, materialize=True)
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("wt"), 2).alias("shard_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    rows = num_hashes // bands
    params = DD.minhash_params(num_hashes)
    params_sql = "[" + ", ".join(f"[{a}::BIGINT, {b}::BIGINT]" for a, b in params) + "]"
    p = DD.MINHASH_P
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SH_SQL} AS sh
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
    ), sig AS (
      SELECT doc_id, sh,
             list_transform({params_sql}, pp ->
               coalesce(list_min(list_transform(sh, s ->
                 ((cast(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p})
                   * pp[1] + pp[2]) % {p})), {p})) AS sig
      FROM sh WHERE len(sh) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 10000) / 10000
             AS jaccard
    FROM sig a, sig b
    WHERE a.doc_id < b.doc_id
      AND len(list_filter(range(0, {bands}),
              bb -> a.sig[bb*{rows}+1 : bb*{rows}+{rows}]
                  = b.sig[bb*{rows}+1 : bb*{rows}+{rows}])) > 0
      AND len(list_intersect(a.sh, b.sh))::DOUBLE /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """32 hashes x 8 bands (4 rows/band): half the signature/band cost
    of 64x16 at the same band width; the exact-Jaccard verify keeps
    precision at 1.0 either way (see minhash_lsh_pairs)."""
    d = _t(spark, sf_dir, "documents")
    # materialize_result: identical args to dedup_minhash_clusters, so
    # whichever runs first populates the shared pairs cache slot (the
    # same cross-query reuse the jaccard family gets)
    return DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5,
        materialize_result=True,
    )


@register(
    "dedup_minhash_clusters",
    f"""
    WITH RECURSIVE mh_pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def dedup_minhash_clusters(spark, sf_dir):
    """The 100 TB fuzzy-clustering composition: MinHash-LSH candidate
    pairs (approximate, banded - the scale path) resolved into clusters
    by checkpointed label propagation. dedup_clusters runs the same
    resolution over EXACT jaccard pairs; this is the shape that
    survives at a scale where exact pair generation no longer does."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5,
        materialize_result=True,
    )
    return DD.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@register(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE mh_pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    ),
    clusters AS (
      SELECT node, min(label) AS cluster_id FROM walk GROUP BY node
    ),
    keys AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS key_id,
             (c.cluster_id IS NOT NULL) AS clustered
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
    ),
    b AS (
      SELECT doc_id, key_id, clustered,
             cast(('0x' || substr(md5('42' || chr(31) ||
               cast(key_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
               AS bucket
      FROM keys
    )
    SELECT CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT key_id) AS n_groups,
           CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered_docs
    FROM b GROUP BY 1
    """,
)
def split_leakage_safe(spark, sf_dir):
    """Round-11: LEAKAGE-SAFE dataset splitting
    (operators/sampling.cluster_safe_split) - every document splits by
    its minhash-cluster representative, so near-duplicates can never
    straddle a train/eval boundary: the contamination mode plain
    hash_split cannot see (two near-identical docs hash independently
    and may land train/test). Clusters come from the SAME
    materialized LSH pair frame the other minhash queries share
    (identical args -> identical cache slot) resolved by checkpointed
    label propagation; docs outside any cluster are singleton groups
    keyed by their own id. The oracle replays components as a
    recursive CTE and the split as the exact md5 bucket arithmetic.
    The split property itself (one split per cluster, all members
    together) is operator-test-pinned."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5,
        materialize_result=True,
    )
    clusters = DD.connected_components(pairs)
    tagged = SP.cluster_safe_split(
        d, clusters, "doc_id",
        {"train": 0.8, "valid": 0.1, "test": 0.1}, seed=42,
    )
    return tagged.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("split_key").alias("n_groups"),
        F.sum(F.when(F.col("clustered"), 1).otherwise(0))
        .cast("long")
        .alias("n_clustered_docs"),
    )


def _incremental_lsh_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Batch-vs-corpus twin of _minhash_oracle: documents split by
    doc_id % 10 into a standing corpus (<8) and an arriving batch
    (>=8); candidates are band matches ACROSS the split only, verified
    at exact Jaccard >= 0.5; one row per matched batch doc keeps its
    smallest corpus match (row_number over corpus_id - both engines
    order a unique integer key identically)."""
    rows = num_hashes // bands
    params = DD.minhash_params(num_hashes)
    params_sql = "[" + ", ".join(f"[{a}::BIGINT, {b}::BIGINT]" for a, b in params) + "]"
    p = DD.MINHASH_P
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SH_SQL} AS sh
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
    ), sig AS (
      SELECT doc_id, sh,
             list_transform({params_sql}, pp ->
               coalesce(list_min(list_transform(sh, s ->
                 ((cast(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p})
                   * pp[1] + pp[2]) % {p})), {p})) AS sig
      FROM sh WHERE len(sh) > 0
    ), cand AS (
      SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
             floor(len(list_intersect(b.sh, c.sh))::DOUBLE /
                   (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))
                   * 10000) / 10000 AS jaccard
      FROM sig b, sig c
      WHERE b.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        AND len(list_filter(range(0, {bands}),
                bb -> b.sig[bb*{rows}+1 : bb*{rows}+{rows}]
                    = c.sig[bb*{rows}+1 : bb*{rows}+{rows}])) > 0
        AND len(list_intersect(b.sh, c.sh))::DOUBLE /
            (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))) >= 0.5
    )
    SELECT batch_id, corpus_id AS dup_of, jaccard
    FROM (SELECT *, row_number() OVER (PARTITION BY batch_id
                                       ORDER BY corpus_id) AS rn
          FROM cand)
    WHERE rn = 1
    """


@register("dedup_incremental_index", _incremental_lsh_oracle())
def dedup_incremental_index(spark, sf_dir):
    """Round-9: incremental dedup of an arriving batch against a
    STANDING corpus through a persisted LSH band index - the daily-
    ingest shape where recomputing corpus signatures is off the table.
    documents splits by doc_id % 10 (corpus <8, batch >=8); the corpus
    index is built (lsh_band_index), written to parquet, READ BACK, and
    the batch deduped against the parquet index (incremental_lsh_dedup)
    so the driver row verifies the whole persist->reload->join path.
    Corpus-side cost at 100 TB: zero signature recompute; the exact
    verify re-reads corpus text only for candidate ids via a broadcast
    semi-join. The reference has no standing-index concept (its daily
    MERGE recomputes per partition, ProcessDaily.usql:20-91); this is
    the Spark-first scale path the tokshard delta-append loop feeds."""
    import re

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8)
    idx = DD.lsh_band_index(corpus, "doc_id", "text", n=3, num_hashes=32, bands=8)
    # sf-tagged like every stateful sibling: an untagged shared path
    # would let a second sf_dir's overwrite yank the parquet out from
    # under a still-lazy first result
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = _run_tmp(f"lsh_index_{tag}")
    index = _store(idx, path)
    return DD.incremental_lsh_dedup(
        batch, index, corpus, "doc_id", "text",
        n=3, num_hashes=32, bands=8, threshold=0.5,
    )


@register(
    "dedup_incremental_clusters",
    f"""
    WITH RECURSIVE mh_pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def dedup_incremental_clusters(spark, sf_dir):
    """Round-10 (VERDICT r9 #3): maintain a STANDING cluster table
    against an arriving batch - the graph-state form of the reference's
    latest-wins daily refresh (ProcessDaily.usql:137-140), completing
    the incremental family (index -> pairs -> now clusters). documents
    splits by doc_id % 10 (corpus <8, batch >=8); the standing clusters
    come from connected_components over the corpus-internal minhash-LSH
    pairs, are written to parquet, READ BACK, and the batch's new edges
    (every LSH pair touching a batch doc) fold in through
    incremental_components - label propagation runs only on the
    contracted O(batch) graph, never the corpus. The oracle is the full
    recursive-CTE re-clustering of ALL pairs: the incremental result
    must be row-identical to it (same contract dedup_minhash_clusters
    pins for the batch path). Pair generation reuses the
    dedup_minhash_lsh cache slot (identical args)."""
    import re

    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5,
        materialize_result=True,
    )
    corpus_pairs = pairs.filter(
        (F.col("id_a") % 10 < 8) & (F.col("id_b") % 10 < 8)
    )
    new_edges = pairs.filter(
        (F.col("id_a") % 10 >= 8) | (F.col("id_b") % 10 >= 8)
    )
    standing = DD.connected_components(corpus_pairs)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = _run_tmp(f"cc_standing_{tag}")
    standing_back = _store(standing, path)
    return DD.incremental_components(standing_back, new_edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


_SUBSTR_K = 10  # window length for the driver query (operator default
# is 50, the Lee et al. setting; the synthetic corpus averages ~54
# tokens/doc, so 10 exercises real cross-doc spans at every sf)


def _remove_substrings_oracle(k: int = _SUBSTR_K) -> str:
    """Window algebra over content-digest first-occurrence: every
    k-token window md5-digested over its space-joined tokens (tokens
    are alphanumeric-only, so the join is injective - the digest
    identifies the exact window content, collision-safe where a 31-bit
    rolling hash would not be), rn>1 per digest in (doc_id, pos) order
    marks duplicate starts, a k-wide running max marks covered tokens,
    survivors string_agg back in order."""
    k1 = k - 1
    return f"""
    WITH th AS (
      SELECT doc_id, toks
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
    ), g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+{k1}], ' ')) AS gh
      FROM th, unnest(range(1, greatest(len(toks) - {k1}, 0) + 1)) AS u(i)
    ), ds AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gh
                                  ORDER BY doc_id, pos) AS rn
        FROM g) WHERE rn > 1
    ), tok AS (
      SELECT th.doc_id, j, toks[j] AS tok
      FROM th, unnest(range(1, len(toks) + 1)) AS u(j)
    ), rm AS (
      SELECT doc_id, j, tok,
             max(dsf) OVER (PARTITION BY doc_id ORDER BY j
                            ROWS BETWEEN {k1} PRECEDING AND CURRENT ROW)
               AS rm
      FROM (SELECT tok.doc_id, tok.j, tok.tok,
                   CASE WHEN ds.pos IS NULL THEN 0 ELSE 1 END AS dsf
            FROM tok LEFT JOIN ds
              ON tok.doc_id = ds.doc_id AND tok.j = ds.pos)
    ), agg AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(rm) AS BIGINT) AS n_removed,
             coalesce(string_agg(CASE WHEN rm = 0 THEN tok END, ' '
                                 ORDER BY j), '') AS text_clean
      FROM rm GROUP BY doc_id
    )
    SELECT d0.doc_id,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_removed, 0) AS n_removed,
           coalesce(agg.text_clean, '') AS text_clean
    FROM documents d0 LEFT JOIN agg USING (doc_id)
    """


@register("dedup_remove_substrings", _remove_substrings_oracle())
def dedup_remove_substrings(spark, sf_dir):
    """Round-10 (VERDICT r9 #4): exact cross-document substring
    REMOVAL at token granularity - the Lee et al. 2021 ExactSubstr
    operator ("Deduplicating Training Data Makes Language Models
    Better") over per-window content digests: any {_SUBSTR_K}-token span
    seen earlier in the corpus is cut from later documents, first
    occurrence kept, covered tokens removed, survivors reassembled in
    order. duplicate_span_fraction only REPORTS overlap; this REWRITES
    the corpus - the operator LM training pipelines actually apply. A
    hypothesis property pins it against a brute-force dict
    reimplementation on arbitrary corpora."""
    d = _t(spark, sf_dir, "documents")
    return DD.remove_duplicate_substrings(
        d, "doc_id", "text", min_tokens=_SUBSTR_K
    )


_PARA_CHUNK = 12  # tokens per synthesized paragraph (the corpus has no
# native newlines, so the query derives delimiter structure first)


def _drop_paragraphs_oracle(chunk: int = _PARA_CHUNK) -> str:
    c1 = chunk - 1
    return f"""
    WITH pt AS (
      SELECT doc_id,
             -- coalesce x2: DuckDB array_to_string([]) is NULL where
             -- Spark array_join([]) is '' - without it every
             -- zero-token doc NULLs out of string_split and vanishes
             coalesce(array_to_string(list_transform(
               range(1, greatest(len(toks), 1) + 1, {chunk}),
               i -> coalesce(array_to_string(toks[i:i+{c1}], ' '), '')),
               chr(10)), '') AS text
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
    ), p AS (
      SELECT doc_id, i AS pno, ps[i] AS para
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM pt),
           unnest(range(1, len(ps) + 1)) AS u(i)
    ), r AS (
      SELECT doc_id, pno, para,
             (trim(para) = '') AS blank,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, pno) AS rn
      FROM p
    )
    SELECT doc_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN blank OR rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped,
           coalesce(string_agg(CASE WHEN blank OR rn = 1 THEN para END,
                               chr(10) ORDER BY pno), '') AS text_clean
    FROM r GROUP BY doc_id
    """


@register("dedup_drop_paragraphs", _drop_paragraphs_oracle())
def dedup_drop_paragraphs(spark, sf_dir):
    """Round-10 (VERDICT r9 #5): corpus-wide exact paragraph dedup (the
    Dolma/Gopher preprocessing shape) - drop every paragraph whose
    exact text occurred earlier in the corpus, keep first occurrences
    and blank structure, reassemble documents in order. The synthetic
    corpus has no newlines, so the query first derives paragraphs as
    {_PARA_CHUNK}-token chunks joined by chr(10) (pure array algebra,
    identical in both engines), then applies the REAL operator
    (operators/dedup.drop_duplicate_paragraphs) on the derived column.
    Complements clean_lines (within-doc) and dedup_remove_substrings
    (unaligned spans)."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    toks = TX.tokenize(F.col("text"))
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(_PARA_CHUNK)).cast("int"), F.lit(1)
    )
    para_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda c: F.array_join(
                F.slice(toks, (c - 1) * _PARA_CHUNK + 1, _PARA_CHUNK), " "
            ),
        ),
        "\n",
    )
    pdf = d.select("doc_id", para_text.alias("text"))
    return DD.drop_duplicate_paragraphs(pdf, "doc_id", "text", sep="\n")


def _boilerplate_oracle(
    chunk: int = _PARA_CHUNK,
    min_docs: int = 2,
    min_frac: float = 0.3,
    batch_only: bool = False,
) -> str:
    """Corpus-frequency boilerplate algebra. ``batch_only`` restricts
    the OUTPUT to the 80%-id-threshold arriving batch while the
    frequency statistics stay global (corpus + batch) - exactly the
    identity the incremental screen claims."""
    c1 = chunk - 1
    batch_where = (
        "WHERE l.doc_id * 5 >= 4 * (SELECT c FROM cutoff)"
        if batch_only
        else ""
    )
    cutoff_cte = (
        ", cutoff AS (SELECT max(doc_id) + 1 AS c FROM documents)"
        if batch_only
        else ""
    )
    return f"""
    WITH base AS (
      SELECT doc_id, source,
             'site ' || coalesce(source, '') || ' navigation menu' ||
             chr(10) ||
             coalesce(array_to_string(list_transform(
               range(1, greatest(len(toks), 1) + 1, {chunk}),
               i -> coalesce(array_to_string(toks[i:i+{c1}], ' '), '')),
               chr(10)), '') ||
             chr(10) || 'copyright ' || coalesce(source, '') ||
             ' all rights reserved' AS text
      FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents) t
    ), l AS (
      SELECT doc_id, source, i AS lno, ls[i] AS line,
             (trim(ls[i]) = '') AS blank
      FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
            FROM base),
           unnest(range(1, len(ls) + 1)) AS u(i)
    ), spd AS (
      SELECT source, count(DISTINCT doc_id) AS n_docs
      FROM base GROUP BY source
    ), b AS (
      SELECT f.source, f.dig FROM (
        SELECT source, md5(trim(line)) AS dig,
               count(DISTINCT doc_id) AS line_df
        FROM l WHERE NOT blank GROUP BY 1, 2
      ) f JOIN spd ON f.source IS NOT DISTINCT FROM spd.source
      WHERE line_df >= {min_docs}
        AND line_df >= {min_frac}::DOUBLE * n_docs
    ){cutoff_cte}
    SELECT l.doc_id, count(*) AS n_lines,
           CAST(sum(CASE WHEN blank OR b.dig IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           coalesce(string_agg(CASE WHEN blank OR b.dig IS NULL
                                    THEN l.line END,
                               chr(10) ORDER BY l.lno), '') AS text_clean
    FROM l LEFT JOIN b
      ON l.source IS NOT DISTINCT FROM b.source
      AND md5(trim(l.line)) = b.dig
    {batch_where}
    GROUP BY l.doc_id
    """


@register("text_boilerplate_lines", _boilerplate_oracle())
def text_boilerplate_lines(spark, sf_dir):
    """Round-11: corpus-FREQUENCY boilerplate removal per source group
    (operators/text.remove_boilerplate_lines - the RefinedWeb/CCNet
    line-frequency filter): a line repeated in >= 30% (and >= 2) of a
    source's documents is boilerplate and EVERY occurrence drops -
    navigation menus, cookie banners, copyright footers - while rarer
    cross-doc repeats survive (the exact opposite keep-rule of
    dedup_drop_paragraphs, which keeps first occurrences of
    arbitrarily rare dups). The synthetic corpus has no line structure
    or boilerplate, so the query derives both: each doc becomes a
    per-source header line + {_PARA_CHUNK}-token body chunks + a
    per-source footer line. The operator must drop exactly the
    header/footer in every multi-doc source (df = 100% of the source)
    and keep the bodies - including the handful of naturally-repeated
    body chunks (df=2 of 25 docs at sf0.01: below threshold, the
    frequency rule's whole point). Single-doc sources keep everything
    (the min_docs floor)."""
    return TX.remove_boilerplate_lines(
        _boiler_corpus(spark, sf_dir),
        "doc_id", "text", "source", min_docs=2, min_frac=0.3,
    )


def _boiler_corpus(spark, sf_dir) -> DataFrame:
    """(doc_id, source, text) with the synthesized line structure both
    boilerplate queries screen: per-source header line +
    {_PARA_CHUNK}-token body chunks + per-source footer line."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    toks = TX.tokenize(F.col("text"))
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(_PARA_CHUNK)).cast("int"), F.lit(1)
    )
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda c: F.array_join(
                F.slice(toks, (c - 1) * _PARA_CHUNK + 1, _PARA_CHUNK), " "
            ),
        ),
        "\n",
    )
    src = F.coalesce(F.col("source"), F.lit(""))
    line_text = F.concat(
        F.lit("site "), src, F.lit(" navigation menu\n"),
        body,
        F.lit("\ncopyright "), src, F.lit(" all rights reserved"),
    )
    return d.select("doc_id", "source", line_text.alias("text"))


@register(
    "text_boilerplate_incremental", _boilerplate_oracle(batch_only=True)
)
def text_boilerplate_incremental(spark, sf_dir):
    """Round-11: boilerplate screening of an ARRIVING batch against
    STANDING corpus statistics (operators/text.boilerplate_line_stats
    + source_doc_counts + remove_boilerplate_lines_incremental) - the
    frequency-statistics sibling of the paragraph/span/substring
    screen stores, completing the screen-store family at line grain.
    documents split at the 80% id threshold; the corpus's
    (src, dig, line_df) and (src, n_docs) stats are written to
    parquet, READ BACK, folded with the batch's own stats (grouped SUM
    - exact, one batch per document) and the batch screens against the
    UNION thresholds; corpus text never re-read. Deliberately
    NON-retroactive (the Dolma/CCNet daily shape) - the oracle pins
    the exact identity: this screen equals the GLOBAL operator
    restricted to batch documents."""
    import re

    pdf = _boiler_corpus(spark, sf_dir)
    cut = (pdf.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    corpus = pdf.filter(F.col("doc_id") * 5 < 4 * cut)
    batch = pdf.filter(F.col("doc_id") * 5 >= 4 * cut)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"boiler_stats_{tag}")
    import os

    lpath = os.path.join(root, "lines")
    spath = os.path.join(root, "sources")
    lines_back = _store(
        TX.boilerplate_line_stats(corpus, "doc_id", "text", "source"), lpath
    )
    sources_back = _store(
        TX.source_doc_counts(corpus, "doc_id", "source"), spath
    )
    return TX.remove_boilerplate_lines_incremental(
        batch,
        lines_back,
        sources_back,
        "doc_id", "text", "source", min_docs=2, min_frac=0.3,
    )


import itertools as _itertools_sb  # noqa: E402

#: per-invocation sequence for the streaming-boilerplate query's fresh
#: out/store/checkpoint roots (the _CFE_SEQ idiom)
_SBOILER_SEQ = _itertools_sb.count()


def _stream_boiler_oracle(
    chunk: int = _PARA_CHUNK, min_docs: int = 2, min_frac: float = 0.3
) -> str:
    """Two-trigger streaming-boilerplate replay: the screen is
    NON-retroactive, so each trigger's documents screen against the
    statistics of everything seen UP TO AND INCLUDING that trigger -
    trigger 1 (ids in [0.8c, 0.9c)) against corpus+day1 stats, trigger
    2 (ids >= 0.9c) against corpus+day1+day2 stats. The oracle
    instantiates the boilerplate frequency algebra once per stage and
    unions the outputs - exactly the micro-batch algebra
    streaming/ingest.stream_boilerplate_screen runs."""
    c1 = chunk - 1

    def stage(n: int, stats_pred: str, out_pred: str) -> str:
        return f"""spd{n} AS (
      SELECT source, count(DISTINCT doc_id) AS n_docs
      FROM base WHERE {stats_pred} GROUP BY source
    ), b{n} AS (
      SELECT f.source, f.dig FROM (
        SELECT source, md5(trim(line)) AS dig,
               count(DISTINCT doc_id) AS line_df
        FROM l WHERE NOT blank AND {stats_pred} GROUP BY 1, 2
      ) f JOIN spd{n} spd ON f.source IS NOT DISTINCT FROM spd.source
      WHERE line_df >= {min_docs}
        AND line_df >= {min_frac}::DOUBLE * n_docs
    ), out{n} AS (
      SELECT l.doc_id, count(*) AS n_lines,
             CAST(sum(CASE WHEN blank OR b.dig IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_dropped,
             coalesce(string_agg(CASE WHEN blank OR b.dig IS NULL
                                      THEN l.line END,
                                 chr(10) ORDER BY l.lno), '') AS text_clean
      FROM l LEFT JOIN b{n} b
        ON l.source IS NOT DISTINCT FROM b.source
        AND md5(trim(l.line)) = b.dig
      WHERE {out_pred}
      GROUP BY l.doc_id
    )"""

    cut = "(SELECT c FROM cutoff)"
    return f"""
    WITH base AS (
      SELECT doc_id, source,
             'site ' || coalesce(source, '') || ' navigation menu' ||
             chr(10) ||
             coalesce(array_to_string(list_transform(
               range(1, greatest(len(toks), 1) + 1, {chunk}),
               i -> coalesce(array_to_string(toks[i:i+{c1}], ' '), '')),
               chr(10)), '') ||
             chr(10) || 'copyright ' || coalesce(source, '') ||
             ' all rights reserved' AS text
      FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents) t
    ), l AS (
      SELECT doc_id, source, i AS lno, ls[i] AS line,
             (trim(ls[i]) = '') AS blank
      FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
            FROM base),
           unnest(range(1, len(ls) + 1)) AS u(i)
    ), cutoff AS (SELECT max(doc_id) + 1 AS c FROM documents),
    {stage(1, f"doc_id * 10 < 9 * {cut}",
           f"l.doc_id * 10 >= 8 * {cut} AND l.doc_id * 10 < 9 * {cut}")},
    {stage(2, "TRUE", f"l.doc_id * 10 >= 9 * {cut}")}
    SELECT * FROM out1 UNION ALL SELECT * FROM out2
    """


@register("stream_boilerplate_screen", _stream_boiler_oracle())
def stream_boilerplate_screen(spark, sf_dir):
    """Round-12: the boilerplate screen's STREAMING arm
    (streaming/ingest.stream_boilerplate_screen) - a REAL two-trigger
    file stream whose micro-batches screen against the bootstrapped
    corpus statistics plus every earlier trigger's delta stats, with
    the per-trigger stats landing as manifest-named delta appends (the
    stream_cluster_maintenance state discipline). documents split
    corpus / day1 / day2 at the 80%/90% id thresholds; the two days
    arrive as two SEQUENTIAL availableNow runs over one source dir +
    checkpoint (restart-driven ingestion - deterministic trigger
    order), so day 2's documents must see day 1's statistics folded
    in: a line that crosses the frequency threshold only once day 1
    lands is cut from day 2's documents (and day 1's output stays as
    screened at its own arrival - the non-retroactive contract). The
    oracle replays the per-trigger algebra exactly."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_boilerplate_screen as _sbs,
    )

    pdf = _boiler_corpus(spark, sf_dir)
    cut = (pdf.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    d10 = F.col("doc_id") * 10
    corpus = pdf.filter(d10 < 8 * cut)
    days = (
        pdf.filter((d10 >= 8 * cut) & (d10 < 9 * cut)),
        pdf.filter(d10 >= 9 * cut),
    )
    # deterministic inputs (corpus stats + the two day files) stage
    # ONCE per sf; each invocation gets fresh out/store/checkpoint
    # state (delta stores and checkpoints must not be reused)
    global _SBOILER_STAGED
    try:
        _SBOILER_STAGED
    except NameError:
        _SBOILER_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"sboiler_{tag}")
    lpath = os.path.join(sroot, "lines")
    spath = os.path.join(sroot, "sources")
    if sf_dir not in _SBOILER_STAGED:
        TX.boilerplate_line_stats(corpus, "doc_id", "text", "source").write.mode(
            "overwrite"
        ).parquet(lpath)
        TX.source_doc_counts(corpus, "doc_id", "source").write.mode(
            "overwrite"
        ).parquet(spath)
        for i, day in enumerate(days):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _SBOILER_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_SBOILER_SEQ)
    root = _run_tmp(f"sboiler_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    out_path = os.path.join(root, "out")
    store_root = os.path.join(root, "store")
    ck = os.path.join(root, "ck")
    schema = "doc_id bigint, source string, text string"
    base_lines = spark.read.parquet(lpath)
    base_sources = spark.read.parquet(spath)
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _sbs(
            spark.readStream.schema(schema).parquet(sdir),
            base_lines, base_sources, out_path, store_root, ck,
            min_docs=2, min_frac=0.3,
        ).awaitTermination()
    # an all-empty documents fixture yields zero-row micro-batches the
    # sink skips - a quiet day is an empty screen, not a read error
    if not os.path.isdir(out_path) or not any(
        f.startswith("micro_batch=") for f in os.listdir(out_path)
    ):
        return spark.createDataFrame(
            [], "doc_id bigint, n_lines bigint, n_dropped bigint, "
            "text_clean string"
        )
    return spark.read.parquet(out_path).select(
        "doc_id", "n_lines", "n_dropped", "text_clean"
    )


@register("dedup_incremental_paragraphs", _drop_paragraphs_oracle())
def dedup_incremental_paragraphs(spark, sf_dir):
    """Round-10: paragraph dedup of an arriving batch against a
    STANDING paragraph-hash store (operators/dedup.paragraph_hash_index
    + drop_duplicate_paragraphs_incremental) - the paragraph-
    granularity sibling of dedup_incremental_index. documents split by
    an 80% doc_id threshold (corpus below, batch above - arrival order
    IS id order, so "the corpus saw it first" and "the smaller id saw
    it first" coincide); the corpus's distinct paragraph hashes are
    written to parquet, READ BACK, and the batch screened against the
    store - its text never re-read. The oracle is the GLOBAL
    corpus-wide operator over all documents: the corpus's own dedup
    unioned with the incremental screen must be row-identical to it.
    Same 12-token synthesized paragraphs as dedup_drop_paragraphs."""
    import re

    d = fan_out(_t(spark, sf_dir, "documents"))
    toks = TX.tokenize(F.col("text"))
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(_PARA_CHUNK)).cast("int"), F.lit(1)
    )
    para_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda c: F.array_join(
                F.slice(toks, (c - 1) * _PARA_CHUNK + 1, _PARA_CHUNK), " "
            ),
        ),
        "\n",
    )
    pdf = d.select("doc_id", para_text.alias("text"))
    # 80% threshold split: every corpus id precedes every batch id
    # (one bounded scalar pull - the split constant)
    cut = (pdf.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    corpus = pdf.filter(F.col("doc_id") * 5 < 4 * cut)
    batch = pdf.filter(F.col("doc_id") * 5 >= 4 * cut)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = _run_tmp(f"para_idx_{tag}")
    store = _store(
        DD.paragraph_hash_index(corpus, "doc_id", "text"), path
    )
    return DD.drop_duplicate_paragraphs(
        corpus, "doc_id", "text", sep="\n"
    ).unionByName(
        DD.drop_duplicate_paragraphs_incremental(
            batch, store, "doc_id", "text", sep="\n"
        )
    )


def _incremental_spans_oracle(window: int = 4) -> str:
    """Cross-split winnowing overlap: both splits' fingerprints in the
    63-bit token_hashes_wide space (un-reduced - the standing store's
    width, see winnow_index); the batch's exploded prints left-join
    the corpus's distinct set."""
    w1 = window - 1
    return f"""
    WITH th AS (
      SELECT doc_id,
             coalesce(list_transform({_TOKS_SQL},
               t -> cast(('0x' || substr(md5(t), 1, 15)) AS BIGINT)),
               []::BIGINT[]) AS th
      FROM documents
    ), fp AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(th) - {w1}, least(len(th), 1)) + 1),
               i -> list_min(th[i:i+{w1}])))) AS fps
      FROM th
    ), corpus_fp AS (
      SELECT DISTINCT u.f FROM fp, unnest(fps) AS u(f)
      WHERE doc_id % 10 < 8
    ), batch_rows AS (
      SELECT doc_id, u.f FROM fp, unnest(fps) AS u(f)
      WHERE doc_id % 10 >= 8
    ), agg AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_fps,
             CAST(sum(CASE WHEN c.f IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM batch_rows b LEFT JOIN corpus_fp c ON b.f = c.f
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           coalesce(agg.n_fps, 0) AS n_fps,
           coalesce(agg.n_hit, 0) AS n_hit,
           floor(CASE WHEN coalesce(agg.n_fps, 0) = 0 THEN 0.0
                      ELSE agg.n_hit::DOUBLE / agg.n_fps END
                 * 10000) / 10000 AS overlap_frac
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
    LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


@register("dedup_incremental_spans", _incremental_spans_oracle())
def dedup_incremental_spans(spark, sf_dir):
    """Round-10: span-overlap screening of an arriving batch against a
    STANDING winnowing-fingerprint store (operators/dedup.winnow_index
    + span_overlap_against_index) - the span-granularity close of the
    incremental family (document LSH -> clusters -> paragraphs -> now
    partial/span overlap), and the incremental form of
    dedup_span_first_occurrence's report. documents split by doc_id %
    10 (corpus <8, batch >=8); the corpus's distinct MOSS fingerprints
    are written to parquet, READ BACK, and each batch doc reports what
    fraction of its prints the store already holds - corpus text never
    re-read, batch-side cost only. The winnowing guarantee makes the
    screen sound: any shared >= 4-token run contributes a shared
    print. The oracle recomputes both splits' fingerprints from raw
    (same CTE as text_fingerprint's oracle) and replays the overlap."""
    import re

    d = fan_out(_t(spark, sf_dir, "documents"))
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = _run_tmp(f"winnow_idx_{tag}")
    store = _store(DD.winnow_index(corpus, "doc_id", "text"), path)
    return DD.span_overlap_against_index(batch, store, "doc_id", "text")


@register("dedup_incremental_substrings", _remove_substrings_oracle())
def dedup_incremental_substrings(spark, sf_dir):
    """Round-11 (VERDICT r10 #5): ExactSubstr REMOVAL of an arriving
    batch against a STANDING window-digest store
    (operators/dedup.substring_window_index +
    remove_duplicate_substrings_incremental) - the removal twin of
    dedup_incremental_spans, completing the screen-store family at the
    Lee et al. grain. documents split at the 80% id threshold (arrival
    order IS id order, so every corpus id precedes every batch id);
    the corpus's distinct {_SUBSTR_K}-token window content digests are
    written to parquet, READ BACK, and the batch cuts any window the
    store holds or an earlier batch position carried - corpus text
    never re-read, batch-side cost only. The oracle is the GLOBAL
    remove-substrings window algebra over the whole table: the
    corpus's own dedup unioned with the screen must equal it exactly
    (the union identity IS the correctness claim, the same contract
    dedup_incremental_paragraphs pins at paragraph grain; a hypothesis
    property pins it over arbitrary splits)."""
    import re

    d = fan_out(_t(spark, sf_dir, "documents"))
    # one bounded scalar pull - the split constant
    cut = (d.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    corpus = d.filter(F.col("doc_id") * 5 < 4 * cut)
    batch = d.filter(F.col("doc_id") * 5 >= 4 * cut)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = _run_tmp(f"substr_idx_{tag}")
    store = _store(
        DD.substring_window_index(
            corpus, "doc_id", "text", min_tokens=_SUBSTR_K
        ),
        path,
    )
    return DD.remove_duplicate_substrings(
        corpus, "doc_id", "text", min_tokens=_SUBSTR_K
    ).unionByName(
        DD.remove_duplicate_substrings_incremental(
            batch, store, "doc_id", "text", min_tokens=_SUBSTR_K
        )
    )


# invocation counter for dim_table_changes' per-run warehouses
import itertools as _itertools  # noqa: E402

_TC_SEQ = _itertools.count()


@register(
    "dim_table_changes",
    """
    WITH s0 AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 <> 0
    ), s1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    )
    SELECT 'I' AS op, k, status, price FROM s1
    WHERE k % 3 = 0
    UNION ALL
    SELECT 'D' AS op, k, status, price FROM s0
    WHERE k % 4 = 0
    UNION ALL
    SELECT 'U' AS op, k, status, price FROM s1
    -- the price IS NOT NULL / <> 0 guards mirror the emitter's
    -- value-diff semantics: doubling NULL or 0 changes nothing, and a
    -- no-op "update" must not appear in the feed
    WHERE k % 3 <> 0 AND k % 7 = 0
      AND price IS NOT NULL AND price <> 0
    """,
)
def dim_table_changes(spark, sf_dir):
    """Round-11 (VERDICT r10 #6): changefeed EMISSION - the read-side
    dual of dim_apply_changes (sources/ivm.table_changes, the Delta
    ``table_changes()`` shape). Snapshot v0 holds orders keys with
    k % 3 <> 0; a day-1 merge moves the table to keys with k % 4 <> 0
    and doubles the price where k % 7 = 0 - so the diff carries
    inserts (k%3=0, k%4<>0), deletes (k%3<>0, k%4=0) and updates
    (k in both, k%7=0). The feed is emitted by diffing the two
    RETAINED snapshot versions, bucket-pruned by hardlink file
    identity (inode-equal untouched buckets are skipped unread). The
    oracle replays the two snapshot definitions and the three-way
    set algebra in SQL. Updates carry the post-image; deletes the
    deleted row - exactly what apply_changes replays (the roundtrip
    is operator-test-pinned)."""
    import re

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s0 = o.filter(k % 3 != 0).select(
        k.alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    s1 = o.filter(k % 4 != 0).select(
        k.alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.when(k % 7 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    # fresh warehouse PER INVOCATION: a rerun (bench min-of-2) into the
    # same catalog would march the version counter past retention and
    # the v0-vs-v1 diff below would raise; overwrite-idempotence is not
    # enough for versioned state
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    seq = next(_TC_SEQ)
    cat = ParquetCatalog(spark, _run_tmp(f"tc_wh_{tag}_{seq}"))
    cat.merge_upsert(s0, "T", ["k"], num_buckets=16)
    # day-1 delta: only the rows that change (inserts + updates), plus
    # the delete keys - a SPARSE merge, so most buckets hard-link and
    # the emission's pruning has real work to skip
    delta = s1.filter((F.col("k") % 3 == 0) | (F.col("k") % 7 == 0))
    dels = s0.select("k").filter(F.col("k") % 4 == 0)
    cat.merge_upsert(delta, "T", ["k"], num_buckets=16, delete_keys=dels)
    return ivm.table_changes(cat, "T", 0, 1)


@register(
    "dim_changefeed_consume",
    """
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IS NOT NULL
    ), s1 AS (
      -- state after day 1: inserts k%3=0, deletes k%4=0 (k%7<>0),
      -- doubled cents where k%7=0
      SELECT k, g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents * 2
                  ELSE cents END AS c
      FROM o WHERE k % 3 = 0 OR NOT (k % 4 = 0 AND k % 7 <> 0)
    ), s2 AS (
      -- state after day 2: deletes k%5=0, status flip where k%11=0,
      -- re-inserts of a day-1-deleted slice at cents+1
      SELECT k, CASE WHEN k % 11 = 0 THEN 'X' ELSE g END AS g, c
      FROM s1 WHERE k % 5 <> 0
      UNION ALL
      SELECT k, g, cents + 1 AS c FROM o
      WHERE k % 3 <> 0 AND k % 4 = 0 AND k % 7 <> 0
        AND k % 9 = 0 AND k % 5 <> 0
    )
    SELECT g, count(*) AS n, count(c) AS n_vals,
           CAST(sum(c) AS BIGINT) AS sum_v
    FROM s2 GROUP BY g
    """,
)
def dim_changefeed_consume(spark, sf_dir):
    """Round-12 (VERDICT r11 #6): the CDC loop CLOSED end-to-end - a
    downstream standing per-group stats table maintained PURELY by
    subscribing to the upstream table's changefeeds (the Delta Live
    Tables shape), never re-reading the upstream after bootstrap.
    table_changes(with_preimages=True) emits the Delta CDF change-type
    set (updates as U_pre/U_post pairs), and
    ivm.fold_changes_into_stats folds each feed with the
    retractable algebra (+post, -pre; integer cents, exact under any
    order), rewriting only the touched groups' buckets. Two upstream
    merge days exercise value updates, GROUP MOVES (status flips
    retract from one group and add to another), deletes that empty
    groups, and re-inserts; the oracle recomputes the stats from the
    final upstream state algebra - the fold must land exactly there."""
    import re

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    s0 = o.filter(k % 3 != 0).select(
        k.alias("k"), g.alias("g"), cents.alias("cents")
    )
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    seq = next(_TC_SEQ)
    cat = ParquetCatalog(
        spark, _run_tmp(f"cfc_wh_{tag}_{seq}"), retain=3
    )
    cat.merge_upsert(s0, "T", ["k"], num_buckets=16)
    # day 1: inserts (k%3=0), doubled cents (k%7=0), deletes (k%4=0)
    day1 = (
        o.filter(k % 3 == 0)
        .select(k.alias("k"), g.alias("g"), cents.alias("cents"))
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                k.alias("k"), g.alias("g"), (cents * 2).alias("cents")
            )
        )
    )
    dels1 = o.filter((k % 3 != 0) & (k % 4 == 0) & (k % 7 != 0)).select(
        k.alias("k")
    )
    # downstream bootstrap = day-0's insert feed; after this the stats
    # table sees the upstream ONLY through table_changes feeds. The
    # stats fold never reads T (retractable algebra - no re-derivation),
    # so folding day k into S and merging day k+1 into T are independent
    # jobs: overlap them (guide 2.6). retain=3 keeps every version a
    # later diff needs.
    run_concurrently(
        lambda: ivm.fold_changes_into_stats(
            cat, s0.select(F.lit("I").alias("op"), "k", "g", "cents"),
            "S", ["g"], "cents", num_buckets=8,
        ),
        lambda: cat.merge_upsert(
            day1, "T", ["k"], num_buckets=16, delete_keys=dels1
        ),
    )
    # day 2 against the post-day-1 state: status flips (GROUP MOVES),
    # deletes, re-inserts of a day-1-deleted slice
    cents1 = F.when((k % 3 != 0) & (k % 7 == 0), cents * 2).otherwise(cents)
    memb1 = (k % 3 == 0) | (~((k % 4 == 0) & (k % 7 != 0)))
    day2 = (
        o.filter(
            (k % 3 != 0) & (k % 4 == 0) & (k % 7 != 0)
            & (k % 9 == 0) & (k % 5 != 0)
        )
        .select(k.alias("k"), g.alias("g"), (cents + 1).alias("cents"))
        .unionByName(
            o.filter(memb1 & (k % 11 == 0) & (k % 5 != 0)).select(
                k.alias("k"), F.lit("X").alias("g"), cents1.alias("cents")
            )
        )
    )
    dels2 = o.filter(memb1 & (k % 5 == 0)).select(k.alias("k"))
    # same overlap as above: day-1 fold into S reads only the immutable
    # v0/v1 dirs while day 2 merges into T
    run_concurrently(
        lambda: ivm.fold_changes_into_stats(
            cat, ivm.table_changes(cat, "T", 0, 1, with_preimages=True),
            "S", ["g"], "cents", num_buckets=8,
        ),
        lambda: cat.merge_upsert(
            day2, "T", ["k"], num_buckets=16, delete_keys=dels2
        ),
    )
    ivm.fold_changes_into_stats(
        cat, ivm.table_changes(cat, "T", 1, 2, with_preimages=True),
        "S", ["g"], "cents", num_buckets=8,
    )
    return cat.read("S").select("g", "n", "n_vals", "sum_v")


# invocation counters for the round-13 IVM queries' per-run warehouses
_JIVM_SEQ = _itertools.count()
_MMX_SEQ = _itertools.count()


@register(
    "dim_join_ivm",
    """
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS ck0,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IS NOT NULL
    ), c AS (
      SELECT c_custkey AS ck, c_nationkey AS nat,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS acct
      FROM customer WHERE c_custkey IS NOT NULL
    ), a_final AS (
      -- A after day 1: inserts k%3=0; FK MOVES + cents+5 where k%7=0;
      -- deletes k%11=0 (k%3<>0, k%7<>0)
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0
                  THEN CASE WHEN ck0 % 2 = 0 THEN ck0 + 1
                            ELSE ck0 - 1 END
                  ELSE ck0 END AS ck,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents + 5
                  ELSE cents END AS cents
      FROM o
      WHERE k % 3 = 0 OR NOT (k % 7 <> 0 AND k % 11 = 0)
    ), b1 AS (
      -- B after day 1: doubled acct where ck%4=0; deletes ck%9=0;
      -- inserts of the previously-missing ck%5=0 slice at acct+1
      SELECT ck, nat,
             CASE WHEN ck % 4 = 0 THEN acct * 2 ELSE acct END AS acct
      FROM c WHERE ck % 5 <> 0 AND NOT (ck % 4 <> 0 AND ck % 9 = 0)
      UNION ALL
      SELECT ck, nat, acct + 1 FROM c WHERE ck % 5 = 0
    ), b_final AS (
      -- B after day 2 (A quiet): deletes ck%7=0, acct+9 where ck%13=0
      SELECT ck, nat,
             CASE WHEN ck % 13 = 0 THEN acct + 9 ELSE acct END AS acct
      FROM b1 WHERE ck % 7 <> 0
    )
    SELECT a.k, a.ck, a.cents, b.nat, b.acct
    FROM a_final a JOIN b_final b USING (ck)
    """,
)
def dim_join_ivm(spark, sf_dir):
    """Round-13 (VERDICT r12 #4): JOIN-shaped IVM - a standing
    materialized equi-join (orders-shaped A JOIN customer-shaped B on
    B's key) maintained PURELY from the two upstreams' preimage
    changefeeds (ivm.fold_changes_into_join), the piece
    fold_changes_into_stats left open (aggregates only). Delta-join
    algebra: dA probes the CURRENT B through a bucket-pruned point
    read (B is keyed by the join column); dB probes a standing
    SECONDARY INDEX of A - A's rows keyed by pk but BUCKETED BY the
    join column (merge_upsert bucket_cols) - so neither side ever
    rescans; FK MOVES ride the U_pre preimages (old join key's bucket
    rewritten, new key's row lands), deletes cascade through the
    index, and a same-day insert against a dying B key correctly
    never joins. Two upstream days (day 2 A-quiet); the oracle is the
    from-scratch join of the final upstream states."""
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    k = F.col("o_orderkey")
    ck0 = F.col("o_custkey")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    ckc = F.col("c_custkey")
    nat = F.col("c_nationkey")
    acct = F.floor(F.col("c_acctbal") * 100).cast("long")

    a0 = o.filter(k % 3 != 0).select(
        k.alias("k"), ck0.alias("ck"), cents.alias("cents")
    )
    b0 = c.filter(ckc % 5 != 0).select(
        ckc.alias("ck"), nat.alias("nat"), acct.alias("acct")
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    cat = ParquetCatalog(
        spark, _run_tmp(f"jivm_wh_{tag}_{next(_JIVM_SEQ)}"), retain=3
    )
    # DIRECT bootstrap (the warehouse-scale recipe the fold docstring
    # recommends): one join + two merges build the initial view and
    # index; the fold path serves the daily delta-sized feeds below.
    # (The all-'I'-feed bootstrap computes the same state - the unit
    # and property suites pin that arm.) The four bootstrap merges
    # write four DISTINCT tables from source-derived frames. Round-15
    # (VERDICT r14 #4): the 4-way overlap ran all four writes against
    # a COLD a0/b0 cache, so each job raced to recompute the shared
    # source-parse subtrees (~4x duplicate work in the driver's cold
    # runs - the per-action profile showed four ~2.4s saves). Two
    # waves instead: wave 1 (A, B) materializes a0/b0 through its own
    # writes, wave 2 (AIdx, J) overlaps on warm cache hits.
    a0 = a0.persist()
    b0 = b0.persist()
    run_concurrently(
        lambda: cat.merge_upsert(a0, "A", ["k"], num_buckets=16),
        lambda: cat.merge_upsert(b0, "B", ["ck"], num_buckets=16),
    )
    run_concurrently(
        lambda: cat.merge_upsert(
            a0, "AIdx", ["k"], num_buckets=16, bucket_cols=["ck"]
        ),
        lambda: cat.merge_upsert(
            a0.join(b0, "ck"), "J", ["k"], num_buckets=16
        ),
    )
    a0.unpersist(blocking=False)
    b0.unpersist(blocking=False)
    # day 1 upstream A: inserts, FK moves (+5 cents), deletes
    moved_ck = F.when(ck0 % 2 == 0, ck0 + 1).otherwise(ck0 - 1)
    a1 = (
        o.filter(k % 3 == 0)
        .select(k.alias("k"), ck0.alias("ck"), cents.alias("cents"))
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                k.alias("k"), moved_ck.alias("ck"),
                (cents + 5).alias("cents"),
            )
        )
    )
    dels_a1 = o.filter(
        (k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)
    ).select(k.alias("k"))
    # day 1 upstream B: value updates, deletes, missing-slice inserts
    b1 = (
        c.filter((ckc % 5 != 0) & (ckc % 4 == 0))
        .select(ckc.alias("ck"), nat.alias("nat"), (acct * 2).alias("acct"))
        .unionByName(
            c.filter(ckc % 5 == 0).select(
                ckc.alias("ck"), nat.alias("nat"), (acct + 1).alias("acct")
            )
        )
    )
    dels_b1 = c.filter(
        (ckc % 5 != 0) & (ckc % 4 != 0) & (ckc % 9 == 0)
    ).select(ckc.alias("ck"))
    # the two day-1 upstream merges are independent (distinct tables)
    run_concurrently(
        lambda: cat.merge_upsert(
            a1, "A", ["k"], num_buckets=16, delete_keys=dels_a1
        ),
        lambda: cat.merge_upsert(
            b1, "B", ["ck"], num_buckets=16, delete_keys=dels_b1
        ),
    )
    ivm.fold_changes_into_join(
        cat, ivm.table_changes(cat, "A", 0, 1, with_preimages=True),
        ivm.table_changes(cat, "B", 0, 1, with_preimages=True),
        "J", "AIdx", "B", ["k"], ["ck"], num_buckets=16,
    )
    # day 2: A quiet; B deletes ck%7=0 and bumps acct where ck%13=0
    memb_b1 = ((ckc % 5 != 0) & ~((ckc % 4 != 0) & (ckc % 9 == 0))) | (
        ckc % 5 == 0
    )
    acct1 = F.when(
        (ckc % 5 != 0) & (ckc % 4 == 0), acct * 2
    ).otherwise(F.when(ckc % 5 == 0, acct + 1).otherwise(acct))
    b2 = c.filter(memb_b1 & (ckc % 7 != 0) & (ckc % 13 == 0)).select(
        ckc.alias("ck"), nat.alias("nat"), (acct1 + 9).alias("acct")
    )
    dels_b2 = c.filter(memb_b1 & (ckc % 7 == 0)).select(ckc.alias("ck"))
    cat.merge_upsert(b2, "B", ["ck"], num_buckets=16, delete_keys=dels_b2)
    ivm.fold_changes_into_join(
        cat, None,
        ivm.table_changes(cat, "B", 1, 2, with_preimages=True),
        "J", "AIdx", "B", ["k"], ["ck"], num_buckets=16,
    )
    return cat.read("J").select("k", "ck", "cents", "nat", "acct")


@register(
    "dim_minmax_ivm",
    """
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             o_totalprice AS v
      FROM orders WHERE o_orderkey IS NOT NULL
    ), mx AS (SELECT max(k) AS mk, max(v) AS mv FROM o),
    u1 AS (
      -- after day 1: inserts k%3=0; v doubled where k%7=0; group moves
      -- to 'M' where k%11=0; deletes k%5=0
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 <> 0 AND k % 11 = 0
                  THEN 'M' ELSE g END AS g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN v * 2 ELSE v END AS v
      FROM o
      WHERE k % 3 = 0
         OR NOT (k % 7 <> 0 AND k % 11 <> 0 AND k % 5 = 0)
      UNION ALL
      -- day-1 sentinels: a lone group max, a TIED max pair, a NULL
      SELECT mk + 1, 'O', mv * 10 FROM mx
      UNION ALL SELECT mk + 2, 'XX', mv * 10 FROM mx
      UNION ALL SELECT mk + 3, 'XX', mv * 10 FROM mx
      UNION ALL SELECT mk + 4, 'NN', CAST(NULL AS DOUBLE) FROM mx
    ), u2 AS (
      -- day 2: delete the lone max (retraction re-derives the group)
      -- and ONE of the tied pair (max must survive); 'NN' gains a value
      SELECT u1.* FROM u1 CROSS JOIN mx
      WHERE u1.k NOT IN (mx.mk + 1, mx.mk + 2)
      UNION ALL SELECT mk + 5, 'NN', 1.0 FROM mx
    )
    SELECT g, count(*) AS n, count(v) AS n_vals,
           min(v) AS min_v, max(v) AS max_v
    FROM u2 GROUP BY g
    """,
)
def dim_minmax_ivm(spark, sf_dir):
    """Round-13 (VERDICT r12 #5): NON-RETRACTABLE aggregate IVM - a
    standing per-group (n, n_vals, min_v, max_v) table maintained from
    preimage changefeeds (ivm.fold_changes_into_extrema),
    the documented exclusion of fold_changes_into_stats (a sum
    retracts algebraically; an extremum does not). Counts fold
    retractably and inserts only RAISE extrema; a delete that TIES the
    standing extremum re-derives exactly that group through a
    bucket-pruned read of the post-state upstream - which is why the
    upstream is merged with bucket_cols=['g'] (the secondary-index
    layout): the re-derivation reads only touched groups' buckets.
    DOUBLE values throughout (no integer restriction - min/max/count
    never sum). Day 1: inserts, doubled values (U_pre retractions),
    group moves, deletes, plus sentinels pinning the edge set (a lone
    group max, a tied max pair, an all-NULL group). Day 2 deletes the
    lone max (the VERDICT's done-criterion: a delete retracting a
    maximum) and one of the tied pair (the max must survive), and the
    all-NULL group gains its first value. Oracle = full recompute from
    the final upstream state."""
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    v = F.col("o_totalprice")
    mk, mv = o.agg(F.max(k), F.max(v)).collect()[0]
    mk = 0 if mk is None else mk  # empty-table robustness: sentinels
    mv = 0.0 if mv is None else mv  # still land at deterministic keys
    u0 = o.filter(k % 3 != 0).select(
        k.alias("k"), g.alias("g"), v.alias("v")
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    cat = ParquetCatalog(
        spark, _run_tmp(f"mmx_wh_{tag}_{next(_MMX_SEQ)}"), retain=3
    )
    # DIRECT bootstrap: the initial stats are one aggregate + one
    # merge (the fold path serves the daily feeds; the all-'I'
    # bootstrap arm is pinned by the unit/property suites). The U and
    # X bootstraps are independent (distinct tables, both from the
    # source frame) - overlap them (guide 2.6).
    run_concurrently(
        lambda: cat.merge_upsert(
            u0, "U", ["k"], num_buckets=16, bucket_cols=["g"]
        ),
        lambda: cat.merge_upsert(
            u0.groupBy("g").agg(
                F.count("*").alias("n"),
                F.count("v").alias("n_vals"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            ),
            "X", ["g"], num_buckets=8,
        ),
    )
    # day 1: inserts + sentinels + value doubles + group moves; deletes
    sent = spark.createDataFrame(
        [
            (mk + 1, "O", mv * 10),
            (mk + 2, "XX", mv * 10),
            (mk + 3, "XX", mv * 10),
            (mk + 4, "NN", None),
        ],
        "k long, g string, v double",
    )
    d1 = (
        o.filter(k % 3 == 0)
        .select(k.alias("k"), g.alias("g"), v.alias("v"))
        .unionByName(sent)
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                k.alias("k"), g.alias("g"), (v * 2).alias("v")
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                k.alias("k"), F.lit("M").alias("g"), v.alias("v")
            )
        )
    )
    # preimages: group moves need (k, OLD g) so the old bucket rewrites;
    # plain deletes carry their group for the same reason
    pre1 = (
        o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0))
        .select(k.alias("k"), g.alias("g"))
        .unionByName(
            o.filter(
                (k % 3 != 0) & (k % 7 != 0) & (k % 11 != 0) & (k % 5 == 0)
            ).select(k.alias("k"), g.alias("g"))
        )
    )
    cat.merge_upsert(
        d1, "U", ["k"], num_buckets=16, bucket_cols=["g"],
        delete_keys=pre1,
    )
    # day 2: retract the lone max + one of the tied pair; 'NN' gains 1.0
    d2 = spark.createDataFrame(
        [(mk + 5, "NN", 1.0)], "k long, g string, v double"
    )
    pre2 = spark.createDataFrame(
        [(mk + 1, "O"), (mk + 2, "XX")], "k long, g string"
    )
    # fold day 1 while merging day 2: the fold's upstream re-derivation
    # read is PINNED to the post-day-1 version (snapshot isolation -
    # read_pruned(version=...)), its feed reads the immutable v0/v1
    # dirs, and the day-2 merge writes only v2 (retain=3 keeps all
    # three) - fully independent jobs (guide 2.6)
    u_v1 = cat.current_version("U")
    run_concurrently(
        lambda: ivm.fold_changes_into_extrema(
            cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
            "U", "X", ["g"], "v", num_buckets=8, upstream_version=u_v1,
        ),
        lambda: cat.merge_upsert(
            d2, "U", ["k"], num_buckets=16, bucket_cols=["g"],
            delete_keys=pre2,
        ),
    )
    ivm.fold_changes_into_extrema(
        cat, ivm.table_changes(cat, "U", 1, 2, with_preimages=True),
        "U", "X", ["g"], "v", num_buckets=8,
    )
    return cat.read("X").select("g", "n", "n_vals", "min_v", "max_v")


#: per-invocation sequence for the COUNT DISTINCT-IVM query
_HLLIVM_SEQ = _itertools.count()

_HLL_EMPTY_REGSUM = SK.HLL_M * (1 << SK._HLL_RHO_MAX)

@register(
    "dim_distinct_ivm",
    f"""
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             o_custkey AS v
      FROM orders WHERE o_orderkey IS NOT NULL
    ), mx AS (SELECT max(k) AS mk FROM o),
    u1 AS (
      -- after day 1: inserts k%3=0; value CHANGES (v+1000000) where
      -- k%7=0; group moves to 'M' where k%11=0; deletes k%5=0
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 <> 0 AND k % 11 = 0
                  THEN 'M' ELSE g END AS g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN v + 1000000
                  ELSE v END AS v
      FROM o
      WHERE k % 3 = 0
         OR NOT (k % 7 <> 0 AND k % 11 <> 0 AND k % 5 = 0)
      UNION ALL
      -- day-1 sentinels: a LAST-COPY value next to a surviving one,
      -- a value carried by TWO rows, an all-NULL group
      SELECT mk + 1, 'SS', 777701 FROM mx
      UNION ALL SELECT mk + 5, 'SS', 777702 FROM mx
      UNION ALL SELECT mk + 2, 'XX', 999992 FROM mx
      UNION ALL SELECT mk + 3, 'XX', 999992 FROM mx
      UNION ALL SELECT mk + 4, 'NN', CAST(NULL AS BIGINT) FROM mx
    ), u2 AS (
      -- day 2: delete the LAST copy of 777701 (its register must
      -- drop - re-derivation) and ONE of 999992's two copies (its
      -- register must survive); 'NN' gains its first value
      SELECT u1.* FROM u1 CROSS JOIN mx
      WHERE u1.k NOT IN (mx.mk + 1, mx.mk + 2)
      UNION ALL SELECT mk + 6, 'NN', 424242 FROM mx
    ),
    {SK.hll_oracle_sql("u2", "v", ["g"])},
    cnts AS (
      SELECT g, count(*) AS n, count(v) AS n_vals,
             cast(count(DISTINCT v) AS BIGINT) AS exact_distinct
      FROM u2 GROUP BY g
    )
    SELECT c.g, c.n, c.n_vals,
           coalesce(h.n_registers, 0) AS n_registers,
           coalesce(h.register_sum, {_HLL_EMPTY_REGSUM}) AS register_sum,
           coalesce(floor(h.hll_estimate * 100) / 100, 0.0) AS hll_est,
           c.exact_distinct
    FROM cnts c LEFT JOIN hll_est h ON c.g = h.g
    """,
)
def dim_distinct_ivm(spark, sf_dir):
    """Round-14 (VERDICT r13 #4): per-group COUNT DISTINCT IVM - the
    remaining non-retractable aggregate family, closed with
    HLL-register folds (ivm.fold_changes_into_hll). A
    standing (g, n, n_vals, regs) sketch table subscribes to preimage
    changefeeds of the group-bucketed upstream: counts fold
    retractably, inserts only RAISE registers (per-bucket max - the
    same monotonicity that makes hll_merge lossless), and exactly the
    groups where a retracted value's rho TIES its bucket's standing
    register max re-derive through a bucket-pruned read of the
    post-state upstream (the fold_changes_into_extrema idiom). Day 1:
    inserts, value changes (U_pre retractions), group moves, deletes,
    plus sentinels pinning the edge set (a last-copy value, a value
    carried by two rows, an all-NULL group). Day 2 deletes the last
    copy (register drops - re-derivation) and one of the tied pair
    (register survives), and the all-NULL group gains its first
    value. Oracle = the register algebra replayed in DuckDB over the
    final upstream state (identical md5 bucket/rho split -
    hll_oracle_sql) plus exact COUNT(DISTINCT) and count arms."""
    import re

    from ghcrawler_datalake_etl_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    v = F.col("o_custkey")
    mk = o.agg(F.max(k)).collect()[0][0]
    mk = 0 if mk is None else mk  # empty-table robustness
    u0 = o.filter(k % 3 != 0).select(
        k.alias("k"), g.alias("g"), v.alias("v")
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    cat = ParquetCatalog(
        spark, _run_tmp(f"hll_wh_{tag}_{next(_HLLIVM_SEQ)}"), retain=3
    )
    cat.merge_upsert(u0, "U", ["k"], num_buckets=16, bucket_cols=["g"])
    # day 1: inserts + sentinels + value changes + group moves; deletes
    sent = spark.createDataFrame(
        [
            (mk + 1, "SS", 777701),
            (mk + 5, "SS", 777702),
            (mk + 2, "XX", 999992),
            (mk + 3, "XX", 999992),
            (mk + 4, "NN", None),
        ],
        "k long, g string, v long",
    )
    d1 = (
        o.filter(k % 3 == 0)
        .select(k.alias("k"), g.alias("g"), v.alias("v"))
        .unionByName(sent)
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                k.alias("k"), g.alias("g"), (v + 1000000).alias("v")
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                k.alias("k"), F.lit("M").alias("g"), v.alias("v")
            )
        )
    )
    pre1 = (
        o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0))
        .select(k.alias("k"), g.alias("g"))
        .unionByName(
            o.filter(
                (k % 3 != 0) & (k % 7 != 0) & (k % 11 != 0) & (k % 5 == 0)
            ).select(k.alias("k"), g.alias("g"))
        )
    )
    # bootstrap the sketch table via the all-'I' fold arm (the
    # extrema/stats queries pin the DIRECT-construction arm; this one
    # exercises the fold's own bootstrap path). The bootstrap fold's
    # upstream read is pinned to v0 (its all-insert feed re-derives
    # nothing, so the pin is belt-and-braces snapshot isolation) and
    # overlaps the day-1 merge into U - independent jobs (guide 2.6).
    u_v0 = cat.current_version("U")
    run_concurrently(
        lambda: ivm.fold_changes_into_hll(
            cat, u0.selectExpr("'I' AS op", "*"), "U", "H", ["g"], "v",
            num_buckets=8, upstream_version=u_v0,
        ),
        lambda: cat.merge_upsert(
            d1, "U", ["k"], num_buckets=16, bucket_cols=["g"],
            delete_keys=pre1,
        ),
    )
    # day 2: last-copy + tied-copy retractions; 'NN' gains a value
    d2 = spark.createDataFrame(
        [(mk + 6, "NN", 424242)], "k long, g string, v long"
    )
    pre2 = spark.createDataFrame(
        [(mk + 1, "SS"), (mk + 2, "XX")], "k long, g string"
    )
    # fold day 1 while merging day 2 (upstream read pinned to the
    # post-day-1 version; feed reads immutable v0/v1 dirs; retain=3)
    u_v1 = cat.current_version("U")
    run_concurrently(
        lambda: ivm.fold_changes_into_hll(
            cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
            "U", "H", ["g"], "v", num_buckets=8, upstream_version=u_v1,
        ),
        lambda: cat.merge_upsert(
            d2, "U", ["k"], num_buckets=16, bucket_cols=["g"],
            delete_keys=pre2,
        ),
    )
    ivm.fold_changes_into_hll(
        cat, ivm.table_changes(cat, "U", 1, 2, with_preimages=True),
        "U", "H", ["g"], "v", num_buckets=8,
    )
    h = cat.read("H")
    est = hll_estimate_from_registers(
        h.select("g", F.explode("regs").alias("bucket", "m_rho")), ["g"]
    )
    exact = (
        cat.read("U")
        .filter(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.countDistinct("v").alias("_exact"))
    )
    return (
        h.join(est, ["g"], "left")
        .join(exact, ["g"], "left")
        .select(
            "g",
            "n",
            "n_vals",
            F.coalesce("n_registers", F.lit(0)).alias("n_registers"),
            F.coalesce(
                "register_sum", F.lit(_HLL_EMPTY_REGSUM)
            ).alias("register_sum"),
            quantize(
                F.coalesce("hll_estimate", F.lit(0.0)), 2
            ).alias("hll_est"),
            F.coalesce("_exact", F.lit(0)).alias("exact_distinct"),
        )
    )


#: per-invocation sequence for the top-k-IVM query
_TOPK_SEQ = _itertools.count()


@register(
    "dim_topk_ivm",
    """
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             o_totalprice AS v
      FROM orders WHERE o_orderkey IS NOT NULL
    ), mx AS (SELECT max(k) AS mk, max(v) AS mv FROM o),
    u1 AS (
      -- after day 1: inserts k%3=0; v doubled where k%7=0; group moves
      -- to 'M' where k%11=0; deletes k%5=0
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 <> 0 AND k % 11 = 0
                  THEN 'M' ELSE g END AS g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN v * 2 ELSE v END AS v
      FROM o
      WHERE k % 3 = 0
         OR NOT (k % 7 <> 0 AND k % 11 <> 0 AND k % 5 = 0)
      UNION ALL
      -- day-1 sentinels: four values crowning group 'O' (array fills
      -- to k=3, horizon mv*8, hidden runner-up mv*7), a SHORT group
      -- 'S' (complete multiset), an all-NULL group
      SELECT mk + 1, 'O', mv * 10 FROM mx
      UNION ALL SELECT mk + 2, 'O', mv * 9 FROM mx
      UNION ALL SELECT mk + 3, 'O', mv * 8 FROM mx
      UNION ALL SELECT mk + 4, 'O', mv * 7 FROM mx
      UNION ALL SELECT mk + 5, 'S', 5.0 FROM mx
      UNION ALL SELECT mk + 6, 'S', 3.0 FROM mx
      UNION ALL SELECT mk + 7, 'NN', CAST(NULL AS DOUBLE) FROM mx
    ), u2 AS (
      -- day 2: retract the value TYING 'O's truncation horizon (the
      -- runner-up below it must surface - re-derivation) and one of
      -- short 'S' (in-place subtract); 'NN' gains its first value
      SELECT u1.* FROM u1 CROSS JOIN mx
      WHERE u1.k NOT IN (mx.mk + 3, mx.mk + 6)
      UNION ALL SELECT mk + 8, 'NN', 1.0 FROM mx
    ),
    stats AS (
      SELECT g, count(*) AS n, count(v) AS n_vals FROM u2 GROUP BY g
    ),
    ranked AS (
      SELECT g, v,
             CAST(row_number() OVER (PARTITION BY g ORDER BY v DESC)
                  AS BIGINT) AS rnk
      FROM u2 WHERE v IS NOT NULL
    )
    SELECT s.g, s.n, s.n_vals, r.rnk, r.v
    FROM stats s
    LEFT JOIN (SELECT * FROM ranked WHERE rnk <= 3) r ON s.g = r.g
    """,
)
def dim_topk_ivm(spark, sf_dir):
    """Round-14: per-group TOP-K IVM - a standing leaderboard table
    (g, n, n_vals, topk array DESC) maintained from preimage
    changefeeds (ivm.fold_changes_into_topk), the
    k-generalization of the extrema fold (k=1 max). Counts fold
    retractably; inserts merge-and-truncate exactly (the new top-k
    only ever draws from the old top-k and the batch's own); a SHORT
    array is the group's complete multiset and subtracts in place;
    ONLY a retraction tying-or-exceeding a FULL array's truncation
    horizon re-derives its group, through a bucket-pruned read of the
    group-bucketed post-state upstream (bucket_cols=['g'], the
    secondary-index layout - O(touched groups), never a scan). Day 1:
    bulk inserts, doubled values (U_pre retractions), group moves,
    deletes, plus sentinels - group 'O' crowned with four values so
    its array truncates at mv*8 hiding mv*7, a two-value SHORT group
    'S', an all-NULL group. Day 2 retracts the horizon value (mv*7
    must surface via re-derivation), one short-group value (in-place),
    and the NULL group gains its first value. The result explodes the
    arrays to (g, rnk, v) rows; oracle = from-scratch per-group
    row_number ranking of the final upstream state - rank r's value is
    the r-th largest of the multiset, well-defined under ties."""
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    K = 3
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    v = F.col("o_totalprice")
    mk, mv = o.agg(F.max(k), F.max(v)).collect()[0]
    mk = 0 if mk is None else mk
    mv = 0.0 if mv is None else mv
    u0 = o.filter(k % 3 != 0).select(
        k.alias("k"), g.alias("g"), v.alias("v")
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    cat = ParquetCatalog(
        spark, _run_tmp(f"topk_wh_{tag}_{next(_TOPK_SEQ)}"), retain=3
    )
    # DIRECT bootstrap: one aggregate + one merge (the fold path
    # serves the daily feeds; the all-'I' bootstrap arm is pinned by
    # the unit/property suites). U and T bootstraps are independent
    # (distinct tables, both from the source frame) - overlap them.
    run_concurrently(
        lambda: cat.merge_upsert(
            u0, "U", ["k"], num_buckets=16, bucket_cols=["g"]
        ),
        lambda: cat.merge_upsert(
            u0.groupBy("g").agg(
                F.count("*").alias("n"),
                F.count("v").alias("n_vals"),
                F.slice(
                    F.sort_array(F.collect_list("v"), asc=False), 1, K
                ).alias("topk"),
            ),
            "T", ["g"], num_buckets=8,
        ),
    )
    sent = spark.createDataFrame(
        [
            (mk + 1, "O", mv * 10),
            (mk + 2, "O", mv * 9),
            (mk + 3, "O", mv * 8),
            (mk + 4, "O", mv * 7),
            (mk + 5, "S", 5.0),
            (mk + 6, "S", 3.0),
            (mk + 7, "NN", None),
        ],
        "k long, g string, v double",
    )
    d1 = (
        o.filter(k % 3 == 0)
        .select(k.alias("k"), g.alias("g"), v.alias("v"))
        .unionByName(sent)
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                k.alias("k"), g.alias("g"), (v * 2).alias("v")
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                k.alias("k"), F.lit("M").alias("g"), v.alias("v")
            )
        )
    )
    pre1 = (
        o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0))
        .select(k.alias("k"), g.alias("g"))
        .unionByName(
            o.filter(
                (k % 3 != 0) & (k % 7 != 0) & (k % 11 != 0) & (k % 5 == 0)
            ).select(k.alias("k"), g.alias("g"))
        )
    )
    cat.merge_upsert(
        d1, "U", ["k"], num_buckets=16, bucket_cols=["g"],
        delete_keys=pre1,
    )
    # day 2: retract 'O's horizon value + one of short 'S'; 'NN' gains
    d2 = spark.createDataFrame(
        [(mk + 8, "NN", 1.0)], "k long, g string, v double"
    )
    pre2 = spark.createDataFrame(
        [(mk + 3, "O"), (mk + 6, "S")], "k long, g string"
    )
    # fold day 1 while merging day 2: upstream read pinned to the
    # post-day-1 version (snapshot isolation), feed reads immutable
    # v0/v1 dirs, day-2 merge writes only v2 (retain=3) - independent
    u_v1 = cat.current_version("U")
    run_concurrently(
        lambda: ivm.fold_changes_into_topk(
            cat, ivm.table_changes(cat, "U", 0, 1, with_preimages=True),
            "U", "T", ["g"], "v", k=K, num_buckets=8,
            upstream_version=u_v1,
        ),
        lambda: cat.merge_upsert(
            d2, "U", ["k"], num_buckets=16, bucket_cols=["g"],
            delete_keys=pre2,
        ),
    )
    ivm.fold_changes_into_topk(
        cat, ivm.table_changes(cat, "U", 1, 2, with_preimages=True),
        "U", "T", ["g"], "v", k=K, num_buckets=8,
    )
    t = cat.read("T").select(
        "g", "n", "n_vals",
        F.posexplode_outer("topk").alias("pos", "v"),
    )
    return t.select(
        "g", "n", "n_vals",
        (F.col("pos") + 1).cast("long").alias("rnk"), "v",
    )


#: per-invocation sequence for the streaming-join-IVM query
_SJIVM_SEQ = _itertools.count()


@register(
    "stream_join_ivm",
    """
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS ck0,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IS NOT NULL
    ), c AS (
      SELECT c_custkey AS ck, c_nationkey AS nat,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS acct
      FROM customer WHERE c_custkey IS NOT NULL
    ), a_final AS (
      -- after trigger 1: inserts k%3=0; FK MOVES + cents+5 where
      -- k%7=0; deletes k%11=0 (k%3<>0, k%7<>0)
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0
                  THEN CASE WHEN ck0 % 2 = 0 THEN ck0 + 1
                            ELSE ck0 - 1 END
                  ELSE ck0 END AS ck,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents + 5
                  ELSE cents END AS cents
      FROM o
      WHERE k % 3 = 0 OR NOT (k % 7 <> 0 AND k % 11 = 0)
    )
    SELECT a.k, a.ck, a.cents, b.nat, b.acct
    FROM a_final a JOIN c b ON a.ck = b.ck
    """,
)
def stream_join_ivm(spark, sf_dir):
    """Round-13: STREAMING join-shaped IVM
    (streaming/ingest.stream_join_ivm) - the foreachBatch arm of
    fold_changes_into_join, closing the CDC loop for a materialized
    join end-to-end: each micro-batch of (op, key, row) CDC rows on
    the fact side applies to the merged A table, emits the version
    diff as a PREIMAGE feed (exactly-once under replay via the
    per-trigger version ledger), and folds it into the standing join +
    A-by-join-key index against the static customer dimension. Two
    REAL sequential availableNow runs: trigger 0 BOOTSTRAPS everything
    from nothing (whole first snapshot as inserts - no pre-staging),
    trigger 1 carries inserts, FK-moving updates, and deletes. The
    oracle is the from-scratch join of the final fact state against
    the dimension."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_join_ivm as _sji,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    k = F.col("o_orderkey")
    ck0 = F.col("o_custkey")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    op = F.lit("I")
    day0 = o.filter(k % 3 != 0).select(
        op.alias("op"), k.alias("k"), ck0.alias("ck"),
        cents.alias("cents"),
    )
    moved_ck = F.when(ck0 % 2 == 0, ck0 + 1).otherwise(ck0 - 1)
    day1 = (
        o.filter(k % 3 == 0)
        .select(
            F.lit("I").alias("op"), k.alias("k"), ck0.alias("ck"),
            cents.alias("cents"),
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"),
                moved_ck.alias("ck"), (cents + 5).alias("cents"),
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                F.lit("D").alias("op"), k.alias("k"), ck0.alias("ck"),
                cents.alias("cents"),
            )
        )
    )
    global _SJIVM_STAGED
    try:
        _SJIVM_STAGED
    except NameError:
        _SJIVM_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"sjivm_{tag}")
    if sf_dir not in _SJIVM_STAGED:
        for i, day in enumerate((day0, day1)):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _SJIVM_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_SJIVM_SEQ)
    root = _run_tmp(f"sjivm_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    cat = ParquetCatalog(spark, os.path.join(root, "wh"), retain=3)
    cat.merge_upsert(
        c.select(
            F.col("c_custkey").alias("ck"),
            F.col("c_nationkey").alias("nat"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("acct"),
        ),
        "B", ["ck"], num_buckets=16,
    )
    SCHEMA = "op string, k long, ck long, cents long"
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _sji(
            spark.readStream.schema(SCHEMA).parquet(sdir),
            cat, "A", "J", "AIdx", "B", ["k"], ["ck"],
            os.path.join(root, "feed"), os.path.join(root, "ck"),
            num_buckets=16,
        ).awaitTermination()
    return cat.read("J").select("k", "ck", "cents", "nat", "acct")


#: per-invocation sequence for the two-upstream streaming-join-IVM query
_SJIVM2_SEQ = _itertools.count()


@register(
    "stream_join_ivm_two_upstream",
    """
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS ck0,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IS NOT NULL
    ), c AS (
      SELECT c_custkey AS ck, c_nationkey AS nat,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS acct
      FROM customer WHERE c_custkey IS NOT NULL
    ), a_final AS (
      -- A after its day 1: inserts k%3=0; FK MOVES + cents+5 where
      -- k%7=0; deletes k%11=0 (k%3<>0, k%7<>0)
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0
                  THEN CASE WHEN ck0 % 2 = 0 THEN ck0 + 1
                            ELSE ck0 - 1 END
                  ELSE ck0 END AS ck,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents + 5
                  ELSE cents END AS cents
      FROM o
      WHERE k % 3 = 0 OR NOT (k % 7 <> 0 AND k % 11 = 0)
    ), b_final AS (
      -- B after its day 1: deletes ck%9=0; acct DOUBLES where ck%4=0
      SELECT ck, nat,
             CASE WHEN ck % 4 = 0 THEN acct * 2 ELSE acct END AS acct
      FROM c WHERE ck % 9 <> 0
    )
    SELECT a.k, a.ck, a.cents, b.nat, b.acct
    FROM a_final a JOIN b_final b ON a.ck = b.ck
    """,
)
def stream_join_ivm_two_upstream(spark, sf_dir):
    """Round-14 (VERDICT r13 #3): TWO-UPSTREAM streaming join IVM -
    the fact arm (streaming/ingest.stream_join_ivm) and the new
    dimension arm (stream_join_ivm_dim) ALTERNATE under the
    serialized-alternation contract, so BOTH upstreams of the standing
    materialized join evolve through streams. Four REAL availableNow
    runs: (1) the fact stream bootstraps A and its join-key index
    while B does not exist yet (the fold tolerates the missing side -
    J stays empty); (2) the dimension stream bootstraps B and J
    materializes entirely through the dB-probes-index term; (3) the
    fact stream's CDC day lands inserts, FK-moving updates, and
    deletes against the streamed B; (4) the dimension stream's CDC day
    doubles accounts and deletes keys, cascading through the index on
    an A-quiet run. Each arm keeps its own per-trigger version ledger
    (exactly-once under replay). The oracle is the from-scratch join
    of BOTH final upstream states - the VERDICT's done-criterion."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_join_ivm as _sji,
        stream_join_ivm_dim as _sjd,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    k = F.col("o_orderkey")
    ck0 = F.col("o_custkey")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    ckc = F.col("c_custkey")
    nat = F.col("c_nationkey")
    acct = F.floor(F.col("c_acctbal") * 100).cast("long")
    a_day0 = o.filter(k % 3 != 0).select(
        F.lit("I").alias("op"), k.alias("k"), ck0.alias("ck"),
        cents.alias("cents"),
    )
    moved_ck = F.when(ck0 % 2 == 0, ck0 + 1).otherwise(ck0 - 1)
    a_day1 = (
        o.filter(k % 3 == 0)
        .select(
            F.lit("I").alias("op"), k.alias("k"), ck0.alias("ck"),
            cents.alias("cents"),
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"),
                moved_ck.alias("ck"), (cents + 5).alias("cents"),
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                F.lit("D").alias("op"), k.alias("k"), ck0.alias("ck"),
                cents.alias("cents"),
            )
        )
    )
    b_day0 = c.select(
        F.lit("I").alias("op"), ckc.alias("ck"), nat.alias("nat"),
        acct.alias("acct"),
    )
    b_day1 = (
        c.filter((ckc % 9 != 0) & (ckc % 4 == 0)).select(
            F.lit("U").alias("op"), ckc.alias("ck"), nat.alias("nat"),
            (acct * 2).alias("acct"),
        )
        .unionByName(
            c.filter(ckc % 9 == 0).select(
                F.lit("D").alias("op"), ckc.alias("ck"),
                nat.alias("nat"), acct.alias("acct"),
            )
        )
    )
    global _SJIVM2_STAGED
    try:
        _SJIVM2_STAGED
    except NameError:
        _SJIVM2_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"sjivm2_{tag}")
    if sf_dir not in _SJIVM2_STAGED:
        for nm, day in (
            ("a0", a_day0), ("a1", a_day1), ("b0", b_day0), ("b1", b_day1)
        ):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, nm)
            )
        _SJIVM2_STAGED.add(sf_dir)

    def _day_file(nm: str) -> str:
        d = os.path.join(sroot, nm)
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_SJIVM2_SEQ)
    root = _run_tmp(f"sjivm2_{tag}_{seq}")
    a_in = os.path.join(root, "a_in")
    b_in = os.path.join(root, "b_in")
    os.makedirs(a_in, exist_ok=True)
    os.makedirs(b_in, exist_ok=True)
    cat = ParquetCatalog(spark, os.path.join(root, "wh"), retain=3)
    A_SCHEMA = "op string, k long, ck long, cents long"
    B_SCHEMA = "op string, ck long, nat long, acct long"

    def _stage(dirname: str, nm: str) -> None:
        try:
            os.link(_day_file(nm), os.path.join(dirname, f"{nm}.parquet"))
        except OSError:
            shutil.copy(
                _day_file(nm), os.path.join(dirname, f"{nm}.parquet")
            )

    def _run_a() -> None:
        _sji(
            spark.readStream.schema(A_SCHEMA).parquet(a_in),
            cat, "A", "J", "AIdx", "B", ["k"], ["ck"],
            os.path.join(root, "a_feed"), os.path.join(root, "a_ck"),
            num_buckets=16,
        ).awaitTermination()

    def _run_b() -> None:
        _sjd(
            spark.readStream.schema(B_SCHEMA).parquet(b_in),
            cat, "B", "J", "AIdx", ["k"], ["ck"],
            os.path.join(root, "b_feed"), os.path.join(root, "b_ck"),
            num_buckets=16,
        ).awaitTermination()

    # serialized alternation: A0 (B absent), B0 (J materializes via
    # dB), A1 (CDC vs streamed B), B1 (CDC cascading via the index)
    _stage(a_in, "a0")
    _run_a()
    _stage(b_in, "b0")
    _run_b()
    _stage(a_in, "a1")
    _run_a()
    _stage(b_in, "b1")
    _run_b()
    return cat.read("J").select("k", "ck", "cents", "nat", "acct")


#: per-invocation sequence for the chained-IVM gold query
_GOLD_SEQ = _itertools.count()


@register(
    "pipeline_ivm_gold",
    """
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS ck0,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IS NOT NULL
    ), c AS (
      SELECT c_custkey AS ck, coalesce(c_nationkey, -1) AS nat
      FROM customer WHERE c_custkey IS NOT NULL
    ), a_final AS (
      -- after day 1: inserts k%3=0; FK MOVES + cents+5 where k%7=0;
      -- deletes k%11=0 (k%3<>0, k%7<>0)
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0
                  THEN CASE WHEN ck0 % 2 = 0 THEN ck0 + 1
                            ELSE ck0 - 1 END
                  ELSE ck0 END AS ck,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents + 5
                  ELSE cents END AS cents
      FROM o
      WHERE k % 3 = 0 OR NOT (k % 7 <> 0 AND k % 11 = 0)
    )
    SELECT b.nat, count(*) AS n, count(a.cents) AS n_vals,
           CAST(sum(a.cents) AS BIGINT) AS sum_v
    FROM a_final a JOIN c b USING (ck)
    GROUP BY b.nat
    """,
)
def pipeline_ivm_gold(spark, sf_dir):
    """Round-13: CHAINED IVM - the bronze -> silver -> gold Delta Live
    Tables pipeline closed as a pure COMPOSITION of the round's
    operators, no new machinery: the fact feed folds into the
    materialized join (silver, fold_changes_into_join), and the GOLD
    per-nation stats table subscribes to the SILVER TABLE'S OWN
    CHANGEFEED (table_changes on J with preimages ->
    fold_changes_into_stats) - the downstream aggregate never reads
    the join, let alone the upstreams. One upstream day of inserts,
    FK moves, and deletes propagates through two IVM hops; every hop
    is feed- or touched-bucket-sized. Oracle = the from-scratch
    join + aggregate of the final states."""
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    k = F.col("o_orderkey")
    ck0 = F.col("o_custkey")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    a0 = o.filter(k % 3 != 0).select(
        k.alias("k"), ck0.alias("ck"), cents.alias("cents")
    )
    b0 = c.select(
        F.col("c_custkey").alias("ck"),
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nat"),
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    cat = ParquetCatalog(
        spark, _run_tmp(f"gold_wh_{tag}_{next(_GOLD_SEQ)}"), retain=3
    )
    # bronze/silver/index/gold bootstrap: direct construction (day 0).
    # Five merges into five DISTINCT tables, all from source-derived
    # frames. Round-15 (VERDICT r14 #4): a single 5-way overlap ran
    # every write against a COLD a0/j0 cache, so the jobs raced to
    # recompute the shared subtrees. Two waves: wave 1 (A, B)
    # materializes a0 through its own write, wave 2 (AIdx, J, G)
    # overlaps on a warm a0 - and J's write materializes j0 while G
    # aggregates it (j0 is join-shaped off the cached a0, so the
    # race left is one cheap cached-join recompute, not a re-parse).
    a0 = a0.persist()
    j0 = a0.join(b0, "ck").persist()
    run_concurrently(
        lambda: cat.merge_upsert(a0, "A", ["k"], num_buckets=16),
        lambda: cat.merge_upsert(b0, "B", ["ck"], num_buckets=16),
    )
    run_concurrently(
        lambda: cat.merge_upsert(
            a0, "AIdx", ["k"], num_buckets=16, bucket_cols=["ck"]
        ),
        lambda: cat.merge_upsert(j0, "J", ["k"], num_buckets=16),
        # gold bootstrap: one aggregate of the silver snapshot
        lambda: cat.merge_upsert(
            j0.groupBy("nat").agg(
                F.count("*").alias("n"),
                F.count("cents").alias("n_vals"),
                F.sum("cents").alias("sum_v"),
            ),
            "G", ["nat"], num_buckets=8,
        ),
    )
    a0.unpersist(blocking=False)
    j0.unpersist(blocking=False)
    # day 1 on the fact side: inserts, FK moves (+5 cents), deletes
    moved_ck = F.when(ck0 % 2 == 0, ck0 + 1).otherwise(ck0 - 1)
    a1 = (
        o.filter(k % 3 == 0)
        .select(k.alias("k"), ck0.alias("ck"), cents.alias("cents"))
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                k.alias("k"), moved_ck.alias("ck"),
                (cents + 5).alias("cents"),
            )
        )
    )
    dels_a1 = o.filter(
        (k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)
    ).select(k.alias("k"))
    cat.merge_upsert(a1, "A", ["k"], num_buckets=16, delete_keys=dels_a1)
    j_pre = cat.current_version("J")
    # hop 1: fact feed -> silver join
    ivm.fold_changes_into_join(
        cat, ivm.table_changes(cat, "A", 0, 1, with_preimages=True),
        None, "J", "AIdx", "B", ["k"], ["ck"], num_buckets=16,
    )
    # hop 2: the SILVER table's own changefeed -> gold stats
    ivm.fold_changes_into_stats(
        cat, ivm.table_changes(
            cat, "J", j_pre, cat.current_version("J"), with_preimages=True
        ),
        "G", ["nat"], "cents", num_buckets=8,
    )
    return cat.read("G").select("nat", "n", "n_vals", "sum_v")


#: per-invocation sequence for the streaming-aggregate-IVM query
_SAGG_SEQ = _itertools.count()


@register(
    "stream_aggregate_ivm",
    """
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IS NOT NULL
    ), u_final AS (
      -- after trigger 1: inserts k%3=0; cents doubled where k%7=0;
      -- group moves to 'M' where k%11=0 (k%7<>0); deletes k%5=0
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 <> 0 AND k % 11 = 0
                  THEN 'M' ELSE g END AS g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN cents * 2
                  ELSE cents END AS c
      FROM o
      WHERE k % 3 = 0
         OR NOT (k % 7 <> 0 AND k % 11 <> 0 AND k % 5 = 0)
    )
    SELECT g, count(*) AS n, count(c) AS n_vals,
           CAST(sum(c) AS BIGINT) AS sum_v,
           min(c) AS min_v, max(c) AS max_v
    FROM u_final GROUP BY g
    """,
)
def stream_aggregate_ivm(spark, sf_dir):
    """Round-13: STREAMING downstream-aggregate IVM
    (streaming/ingest.stream_aggregate_ivm) - the foreachBatch arm of
    BOTH aggregate folds (fold_changes_into_stats +
    fold_changes_into_extrema), completing their batch -> streaming
    lifecycle the way stream_join_ivm completed the join fold's. Per
    trigger: CDC micro-batch applies to the key-bucketed upstream, the
    version diff emits as a preimage feed, a GROUP-BUCKETED replica is
    maintained from the feed (the extrema re-derivation's pruned-read
    target), and the feed folds into standing stats AND extrema
    tables. Exactly-once is LEDGERED PER DOWNSTREAM TABLE (the
    arithmetic stats fold would double-count on replay - each fold is
    one atomic version flip, so 'version advanced' == 'already
    applied'). Two REAL availableNow runs: bootstrap inserts, then
    inserts + doubled values + group moves + deletes. Returns stats
    joined with extrema per group; oracle = full recompute from the
    final upstream state."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_aggregate_ivm as _sai,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    day0 = o.filter(k % 3 != 0).select(
        F.lit("I").alias("op"), k.alias("k"), g.alias("g"),
        cents.alias("cents"),
    )
    day1 = (
        o.filter(k % 3 == 0)
        .select(
            F.lit("I").alias("op"), k.alias("k"), g.alias("g"),
            cents.alias("cents"),
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"), g.alias("g"),
                (cents * 2).alias("cents"),
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"),
                F.lit("M").alias("g"), cents.alias("cents"),
            )
        )
        .unionByName(
            o.filter(
                (k % 3 != 0) & (k % 7 != 0) & (k % 11 != 0) & (k % 5 == 0)
            ).select(
                F.lit("D").alias("op"), k.alias("k"), g.alias("g"),
                cents.alias("cents"),
            )
        )
    )
    global _SAGG_STAGED
    try:
        _SAGG_STAGED
    except NameError:
        _SAGG_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"saggivm_{tag}")
    if sf_dir not in _SAGG_STAGED:
        for i, day in enumerate((day0, day1)):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _SAGG_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_SAGG_SEQ)
    root = _run_tmp(f"saggivm_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    cat = ParquetCatalog(spark, os.path.join(root, "wh"), retain=3)
    SCHEMA = "op string, k long, g string, cents long"
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _sai(
            spark.readStream.schema(SCHEMA).parquet(sdir),
            cat, "A", "AIdx", "S", "X", ["k"], ["g"], "cents",
            os.path.join(root, "feed"), os.path.join(root, "ck"),
            num_buckets=16,
        ).awaitTermination()
    return (
        cat.read("S")
        .select("g", "n", "n_vals", "sum_v")
        .join(
            cat.read("X").select("g", "min_v", "max_v"), "g", "inner"
        )
        .select("g", "n", "n_vals", "sum_v", "min_v", "max_v")
    )


#: per-invocation sequence for the streaming COUNT DISTINCT-IVM query
_SDIS_SEQ = _itertools.count()


@register(
    "stream_distinct_ivm",
    f"""
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             o_custkey AS v
      FROM orders WHERE o_orderkey IS NOT NULL
    ), u2 AS (
      -- after trigger 1: inserts k%3=0; value changes (v+1000000)
      -- where k%7=0; group moves to 'M' where k%11=0; deletes k%5=0
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 <> 0 AND k % 11 = 0
                  THEN 'M' ELSE g END AS g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN v + 1000000
                  ELSE v END AS v
      FROM o
      WHERE k % 3 = 0
         OR NOT (k % 7 <> 0 AND k % 11 <> 0 AND k % 5 = 0)
    ),
    {SK.hll_oracle_sql("u2", "v", ["g"])},
    cnts AS (
      SELECT g, count(*) AS n, count(v) AS n_vals,
             cast(count(DISTINCT v) AS BIGINT) AS exact_distinct
      FROM u2 GROUP BY g
    )
    SELECT c.g, c.n, c.n_vals,
           coalesce(h.n_registers, 0) AS n_registers,
           coalesce(h.register_sum, {_HLL_EMPTY_REGSUM}) AS register_sum,
           coalesce(floor(h.hll_estimate * 100) / 100, 0.0) AS hll_est,
           c.exact_distinct
    FROM cnts c LEFT JOIN hll_est h ON c.g = h.g
    """,
)
def stream_distinct_ivm(spark, sf_dir):
    """Round-14: STREAMING COUNT DISTINCT IVM
    (streaming/ingest.stream_distinct_ivm) - the foreachBatch arm of
    fold_changes_into_hll, completing the round's fold family's
    batch -> streaming lifecycle exactly as stream_aggregate_ivm
    completed the stats/extrema folds'. Per trigger: the CDC
    micro-batch applies to the key-bucketed upstream, the version diff
    emits as a preimage feed, a GROUP-BUCKETED replica is maintained
    from the feed (the register re-derivation's pruned-read target),
    and the feed folds into the standing per-group HLL sketch table.
    Exactly-once is ledgered per downstream table (the count
    components are arithmetic - replay would double-count). Two REAL
    availableNow runs: bootstrap inserts, then inserts + value changes
    + group moves + deletes - the value changes retract old custkeys
    whose rho may tie standing registers, exercising the re-derive
    path under streaming. Oracle = the register algebra replayed in
    DuckDB over the final upstream state plus exact arms."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_distinct_ivm as _sdi,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    v = F.col("o_custkey")
    day0 = o.filter(k % 3 != 0).select(
        F.lit("I").alias("op"), k.alias("k"), g.alias("g"), v.alias("v")
    )
    day1 = (
        o.filter(k % 3 == 0)
        .select(
            F.lit("I").alias("op"), k.alias("k"), g.alias("g"),
            v.alias("v"),
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"), g.alias("g"),
                (v + 1000000).alias("v"),
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"),
                F.lit("M").alias("g"), v.alias("v"),
            )
        )
        .unionByName(
            o.filter(
                (k % 3 != 0) & (k % 7 != 0) & (k % 11 != 0) & (k % 5 == 0)
            ).select(
                F.lit("D").alias("op"), k.alias("k"), g.alias("g"),
                v.alias("v"),
            )
        )
    )
    global _SDIS_STAGED
    try:
        _SDIS_STAGED
    except NameError:
        _SDIS_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"sdis_{tag}")
    if sf_dir not in _SDIS_STAGED:
        for i, day in enumerate((day0, day1)):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _SDIS_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_SDIS_SEQ)
    root = _run_tmp(f"sdis_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    cat = ParquetCatalog(spark, os.path.join(root, "wh"), retain=3)
    SCHEMA = "op string, k long, g string, v long"
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _sdi(
            spark.readStream.schema(SCHEMA).parquet(sdir),
            cat, "A", "AIdx", "H", ["k"], ["g"], "v",
            os.path.join(root, "feed"), os.path.join(root, "ck"),
            num_buckets=16,
        ).awaitTermination()
    h = cat.read("H")
    est = hll_estimate_from_registers(
        h.select("g", F.explode("regs").alias("bucket", "m_rho")), ["g"]
    )
    exact = (
        cat.read("A")
        .filter(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.countDistinct("v").alias("_exact"))
    )
    return (
        h.join(est, ["g"], "left")
        .join(exact, ["g"], "left")
        .select(
            "g",
            "n",
            "n_vals",
            F.coalesce("n_registers", F.lit(0)).alias("n_registers"),
            F.coalesce(
                "register_sum", F.lit(_HLL_EMPTY_REGSUM)
            ).alias("register_sum"),
            quantize(
                F.coalesce("hll_estimate", F.lit(0.0)), 2
            ).alias("hll_est"),
            F.coalesce("_exact", F.lit(0)).alias("exact_distinct"),
        )
    )


#: per-invocation sequence for the streaming top-k-IVM query
_STOPK_SEQ = _itertools.count()


@register(
    "stream_topk_ivm",
    """
    WITH o AS (
      SELECT o_orderkey AS k, coalesce(o_orderstatus, '') AS g,
             o_totalprice AS v
      FROM orders WHERE o_orderkey IS NOT NULL
    ), u2 AS (
      -- after trigger 1: inserts k%3=0; v doubled where k%7=0; group
      -- moves to 'M' where k%11=0; deletes k%5=0
      SELECT k,
             CASE WHEN k % 3 <> 0 AND k % 7 <> 0 AND k % 11 = 0
                  THEN 'M' ELSE g END AS g,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN v * 2 ELSE v END AS v
      FROM o
      WHERE k % 3 = 0
         OR NOT (k % 7 <> 0 AND k % 11 <> 0 AND k % 5 = 0)
    ),
    stats AS (
      SELECT g, count(*) AS n, count(v) AS n_vals FROM u2 GROUP BY g
    ),
    ranked AS (
      SELECT g, v,
             CAST(row_number() OVER (PARTITION BY g ORDER BY v DESC)
                  AS BIGINT) AS rnk
      FROM u2 WHERE v IS NOT NULL
    )
    SELECT s.g, s.n, s.n_vals, r.rnk, r.v
    FROM stats s
    LEFT JOIN (SELECT * FROM ranked WHERE rnk <= 3) r ON s.g = r.g
    """,
)
def stream_topk_ivm(spark, sf_dir):
    """Round-14: STREAMING TOP-K IVM
    (streaming/ingest.stream_topk_ivm) - the foreachBatch arm of
    fold_changes_into_topk, shipping the leaderboard fold's streaming
    lifecycle in the same round as its batch form (the r13/r14
    pattern). Per trigger: the CDC micro-batch applies to the
    key-bucketed upstream, the version diff emits as a preimage feed,
    a GROUP-BUCKETED replica is maintained from the feed (the horizon
    re-derivation's pruned-read target), and the feed folds into the
    standing per-group top-3 table. Exactly-once is ledgered per
    downstream table (merge-and-truncate is NOT idempotent - a
    replayed insert re-enters an array that already holds it). Two
    REAL availableNow runs: bootstrap inserts, then inserts + value
    doubles + group moves + deletes - the doubles retract high values
    that sit inside standing arrays, exercising in-place subtraction
    AND horizon re-derivation under streaming. The arrays explode to
    (g, rnk, v) rows; oracle = from-scratch per-group row_number
    ranking of the final upstream state."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_topk_ivm as _stk,
    )

    K = 3
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    g = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    v = F.col("o_totalprice")
    day0 = o.filter(k % 3 != 0).select(
        F.lit("I").alias("op"), k.alias("k"), g.alias("g"), v.alias("v")
    )
    day1 = (
        o.filter(k % 3 == 0)
        .select(
            F.lit("I").alias("op"), k.alias("k"), g.alias("g"),
            v.alias("v"),
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"), g.alias("g"),
                (v * 2).alias("v"),
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 != 0) & (k % 11 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"),
                F.lit("M").alias("g"), v.alias("v"),
            )
        )
        .unionByName(
            o.filter(
                (k % 3 != 0) & (k % 7 != 0) & (k % 11 != 0) & (k % 5 == 0)
            ).select(
                F.lit("D").alias("op"), k.alias("k"), g.alias("g"),
                v.alias("v"),
            )
        )
    )
    global _STOPK_STAGED
    try:
        _STOPK_STAGED
    except NameError:
        _STOPK_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"stopk_{tag}")
    if sf_dir not in _STOPK_STAGED:
        for i, day in enumerate((day0, day1)):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _STOPK_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_STOPK_SEQ)
    root = _run_tmp(f"stopk_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    cat = ParquetCatalog(spark, os.path.join(root, "wh"), retain=3)
    SCHEMA = "op string, k long, g string, v double"
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _stk(
            spark.readStream.schema(SCHEMA).parquet(sdir),
            cat, "A", "AIdx", "T", ["k"], ["g"], "v", K,
            os.path.join(root, "feed"), os.path.join(root, "ck"),
            num_buckets=16,
        ).awaitTermination()
    t = cat.read("T").select(
        "g", "n", "n_vals",
        F.posexplode_outer("topk").alias("pos", "v"),
    )
    return t.select(
        "g", "n", "n_vals",
        (F.col("pos") + 1).cast("long").alias("rnk"), "v",
    )


# invocation counter for stream_changefeed_emission's per-run state
_CFE_SEQ = _itertools.count()


@register(
    "stream_changefeed_emission",
    """
    WITH o AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr
      FROM orders WHERE o_orderkey IS NOT NULL
    ), f0 AS (
      -- trigger 0 = diff(v0, v1): day-1 CDC applied to the base table
      SELECT CAST(0 AS BIGINT) AS micro_batch, 'I' AS op, k,
             st AS status, pr AS price
      FROM o WHERE k % 3 = 0
      UNION ALL
      -- the price guards mirror the emitter's value-diff semantics:
      -- doubling NULL or 0 changes nothing -> no feed row
      SELECT 0, 'U', k, st, pr * 2 FROM o
      WHERE k % 3 <> 0 AND k % 7 = 0 AND pr IS NOT NULL AND pr <> 0
      UNION ALL
      SELECT 0, 'D', k, st, pr FROM o
      WHERE k % 3 <> 0 AND k % 4 = 0 AND k % 7 <> 0
    ), s1 AS (
      -- the table state after day-1 (no-op updates still land, they
      -- just do not change values): inserts k%3=0, deletes k%4=0&k%7<>0,
      -- doubled price where k%7=0
      SELECT k, st,
             CASE WHEN k % 3 <> 0 AND k % 7 = 0 THEN pr * 2
                  ELSE pr END AS pr1
      FROM o WHERE k % 3 = 0 OR NOT (k % 4 = 0 AND k % 7 <> 0)
    ), f1 AS (
      -- trigger 1 = diff(v1, v2): re-inserts of day-1-deleted keys,
      -- status flips, deletes
      SELECT CAST(1 AS BIGINT) AS micro_batch, 'I' AS op, k,
             st AS status, pr + 1 AS price
      FROM o
      WHERE k % 3 <> 0 AND k % 4 = 0 AND k % 7 <> 0 AND k % 9 = 0
        AND k % 5 <> 0
      UNION ALL
      -- a status already 'X' makes the CDC row a whole-row no-op the
      -- emitter drops (the row carries the current price by design)
      SELECT 1, 'U', k, 'X', pr1 FROM s1
      WHERE k % 11 = 0 AND k % 5 <> 0 AND st IS DISTINCT FROM 'X'
      UNION ALL
      SELECT 1, 'D', k, st, pr1 FROM s1 WHERE k % 5 = 0
    )
    SELECT * FROM f0 UNION ALL SELECT * FROM f1
    """,
)
def stream_changefeed_emission(spark, sf_dir):
    """Round-11: the streaming CDC loop CLOSED on the read side
    (streaming/ingest.stream_apply_changes_feed) - each micro-batch of
    (op, key, row) rows applies to the merged table through the
    bucket-pruned apply_changes, and the resulting version diff is
    emitted to ``feed_root/micro_batch=N`` via the hardlink-pruned
    table_changes, so a downstream consumer subscribes to table
    changes without rescanning snapshots (the Delta CDF
    ``readChangeFeed`` shape; exactly-once under replay via the feed
    manifest's per-trigger version ledger - operator-test-pinned).

    Two CDC days arrive as two SEQUENTIAL availableNow runs over the
    same source dir + checkpoint (day-2 files land between runs - the
    restart-driven ingestion shape; trigger order is deterministic,
    not mtime-dependent). Day 1 inserts the k%3=0 orders keys, doubles
    the price where k%7=0 and deletes k%4=0 (k%7<>0) keys; day 2
    re-inserts a slice of the day-1 deletions at price+1, flips status
    to 'X' where k%11=0 and deletes k%5=0 keys. The oracle replays the
    snapshot algebra: each trigger's feed is the exact I/U/D set
    algebra between consecutive states, no-op updates excluded."""
    import os
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_apply_changes_feed,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey")
    st = F.col("o_orderstatus")
    pr = F.col("o_totalprice")
    base = o.filter(k % 3 != 0).select(
        k.alias("k"), st.alias("status"), pr.alias("price")
    )
    c1 = (
        o.filter(k % 3 == 0)
        .select(
            F.lit("I").alias("op"), k.alias("k"), st.alias("status"),
            pr.alias("price"),
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 7 == 0)).select(
                F.lit("U").alias("op"), k.alias("k"), st.alias("status"),
                (pr * 2).alias("price"),
            )
        )
        .unionByName(
            o.filter((k % 3 != 0) & (k % 4 == 0) & (k % 7 != 0)).select(
                F.lit("D").alias("op"), k.alias("k"), st.alias("status"),
                pr.alias("price"),
            )
        )
    )
    # day-2 rows are computed against the post-day-1 state: pr1 is the
    # standing price, memb1 the standing key set
    pr1 = F.when((k % 3 != 0) & (k % 7 == 0), pr * 2).otherwise(pr)
    memb1 = (k % 3 == 0) | (~((k % 4 == 0) & (k % 7 != 0)))
    c2 = (
        o.filter(
            (k % 3 != 0) & (k % 4 == 0) & (k % 7 != 0)
            & (k % 9 == 0) & (k % 5 != 0)
        )
        .select(
            F.lit("I").alias("op"), k.alias("k"), st.alias("status"),
            (pr + 1).alias("price"),
        )
        .unionByName(
            o.filter(memb1 & (k % 11 == 0) & (k % 5 != 0)).select(
                F.lit("U").alias("op"), k.alias("k"),
                F.lit("X").alias("status"), pr1.alias("price"),
            )
        )
        .unionByName(
            o.filter(memb1 & (k % 5 == 0)).select(
                F.lit("D").alias("op"), k.alias("k"), st.alias("status"),
                pr1.alias("price"),
            )
        )
    )
    # the deterministic inputs (base warehouse, the two CDC day files)
    # stage ONCE per sf; each invocation hardlinks them into fresh
    # per-run state - versioned warehouse + feed ledger + checkpoint
    # must be fresh per invocation (the dim_table_changes lesson:
    # reruns into the same catalog march versions past retention)
    import shutil

    global _CFE_STAGED
    try:
        _CFE_STAGED
    except NameError:
        _CFE_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"cfe_{tag}")
    wh_base = os.path.join(sroot, "wh_base")
    if sf_dir not in _CFE_STAGED:
        ParquetCatalog(spark, wh_base).merge_upsert(
            base, "T", ["k"], num_buckets=16
        )
        for i, day in enumerate((c1, c2)):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _CFE_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_CFE_SEQ)
    root = _run_tmp(f"cfe_{tag}_{seq}")
    wh = os.path.join(root, "wh")
    if not os.path.isdir(wh):
        shutil.copytree(wh_base, wh)
    cat = ParquetCatalog(spark, wh)
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    feed_root = os.path.join(root, "feed")
    ck = os.path.join(root, "ck")
    cdc_schema = "op string, k bigint, status string, price double"
    for i in range(2):
        os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        stream_apply_changes_feed(
            spark.readStream.schema(cdc_schema).parquet(sdir),
            cat, "T", ["k"], feed_root, ck, num_buckets=16,
        ).awaitTermination()
    # an all-empty orders fixture produces zero-row micro-batches the
    # sink skips - a quiet day is an empty feed, not a read error
    if not os.path.isdir(feed_root) or not any(
        f.startswith("micro_batch=") for f in os.listdir(feed_root)
    ):
        return spark.createDataFrame(
            [], "micro_batch bigint, op string, k bigint, "
            "status string, price double"
        )
    return spark.read.parquet(feed_root).select(
        F.col("micro_batch").cast("bigint").alias("micro_batch"),
        "op", "k", "status", "price",
    )


_DAILY_BUDGET = 500  # tokens per shard for the daily-ingest pack stage

#: per-invocation sequence for the daily-ingest store dirs
_DAILY_SEQ = _itertools.count()


def _daily_ingest_oracle(
    chunk: int = _PARA_CHUNK,
    window: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    budget: int = _DAILY_BUDGET,
) -> str:
    """The composed production-day oracle: every stage's own window
    algebra (paragraph first-occurrence, winnowing overlap in the
    63-bit wide space, minhash-LSH band match + exact-Jaccard verify,
    exclusive-cumsum packing) chained through the SAME cleaned-text
    coupling the Spark composition runs - the batch's span/LSH/pack
    stages all operate on the paragraph-screened text."""
    c1 = chunk - 1
    w1 = window - 1
    rows = num_hashes // bands
    params = DD.minhash_params(num_hashes)
    params_sql = "[" + ", ".join(
        f"[{a}::BIGINT, {b}::BIGINT]" for a, b in params
    ) + "]"
    p = DD.MINHASH_P
    wide = "t -> cast(('0x' || substr(md5(t), 1, 15)) AS BIGINT)"
    return f"""
    WITH pt AS (
      SELECT doc_id,
             coalesce(array_to_string(list_transform(
               range(1, greatest(len(toks), 1) + 1, {chunk}),
               i -> coalesce(array_to_string(toks[i:i+{c1}], ' '), '')),
               chr(10)), '') AS text
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
    ), cutoff AS (SELECT max(doc_id) + 1 AS c FROM documents),
    p AS (
      SELECT doc_id, i AS pno, ps[i] AS para
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM pt),
           unnest(range(1, len(ps) + 1)) AS u(i)
    ), r AS (
      SELECT doc_id, pno, para,
             (trim(para) = '') AS blank,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, pno) AS rn
      FROM p
    ), cleaned AS (
      SELECT doc_id, count(*) AS n_paras,
             CAST(sum(CASE WHEN blank OR rn = 1 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_paras_dropped,
             coalesce(string_agg(CASE WHEN blank OR rn = 1 THEN para END,
                                 chr(10) ORDER BY pno), '') AS text
      FROM r GROUP BY doc_id
    ), btoks AS (
      SELECT c.doc_id, c.n_paras, c.n_paras_dropped,
             {_TOKS_SQL} AS toks
      FROM (SELECT doc_id, n_paras, n_paras_dropped, text
            FROM cleaned, cutoff WHERE doc_id * 5 >= 4 * cutoff.c) c
    ), cfp AS (
      SELECT DISTINCT u.f FROM (
        SELECT list_sort(list_distinct(list_transform(
          range(1, greatest(len(th) - {w1}, least(len(th), 1)) + 1),
          i -> list_min(th[i:i+{w1}])))) AS fps
        FROM (SELECT coalesce(list_transform({_TOKS_SQL}, {wide}),
                              []::BIGINT[]) AS th
              FROM documents, cutoff WHERE doc_id * 5 < 4 * cutoff.c)
      ), unnest(fps) AS u(f)
    ), brows AS (
      SELECT doc_id, u.f FROM (
        SELECT doc_id, list_sort(list_distinct(list_transform(
          range(1, greatest(len(th) - {w1}, least(len(th), 1)) + 1),
          i -> list_min(th[i:i+{w1}])))) AS fps
        FROM (SELECT doc_id, coalesce(list_transform(toks, {wide}),
                              []::BIGINT[]) AS th FROM btoks)
      ), unnest(fps) AS u(f)
    ), span AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_fps,
             CAST(sum(CASE WHEN c.f IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM brows b LEFT JOIN cfp c ON b.f = c.f
      GROUP BY b.doc_id
    ), spanrep AS (
      SELECT bt.doc_id, coalesce(span.n_fps, 0) AS n_fps,
             floor(CASE WHEN coalesce(span.n_fps, 0) = 0 THEN 0.0
                        ELSE span.n_hit::DOUBLE / span.n_fps END
                   * 10000) / 10000 AS overlap_frac
      FROM btoks bt LEFT JOIN span ON bt.doc_id = span.doc_id
    ), sig_b AS (
      SELECT bt.doc_id, {_SH_SQL} AS sh,
             list_transform({params_sql}, pp ->
               coalesce(list_min(list_transform({_SH_SQL}, s ->
                 ((cast(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p})
                   * pp[1] + pp[2]) % {p})), {p})) AS sig
      FROM btoks bt JOIN spanrep sp ON bt.doc_id = sp.doc_id
      WHERE sp.overlap_frac < 0.5 AND len({_SH_SQL}) > 0
    ), sig_c AS (
      SELECT doc_id, sh,
             list_transform({params_sql}, pp ->
               coalesce(list_min(list_transform(sh, s ->
                 ((cast(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p})
                   * pp[1] + pp[2]) % {p})), {p})) AS sig
      FROM (SELECT doc_id, {_SH_SQL} AS sh
            FROM (SELECT doc_id, {_TOKS_SQL} AS toks
                  FROM documents, cutoff
                  WHERE doc_id * 5 < 4 * cutoff.c) t)
      WHERE len(sh) > 0
    ), best AS (
      SELECT batch_id, corpus_id AS dup_of, jaccard FROM (
        SELECT batch_id, corpus_id, jaccard,
               row_number() OVER (PARTITION BY batch_id
                                  ORDER BY corpus_id) AS rn
        FROM (
          SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
                 floor(len(list_intersect(b.sh, c.sh))::DOUBLE /
                       (len(b.sh) + len(c.sh)
                        - len(list_intersect(b.sh, c.sh)))
                       * 10000) / 10000 AS jaccard
          FROM sig_b b, sig_c c
          WHERE len(list_filter(range(0, {bands}),
                  bb -> b.sig[bb*{rows}+1 : bb*{rows}+{rows}]
                      = c.sig[bb*{rows}+1 : bb*{rows}+{rows}])) > 0
            AND len(list_intersect(b.sh, c.sh))::DOUBLE /
                (len(b.sh) + len(c.sh)
                 - len(list_intersect(b.sh, c.sh))) >= 0.5
        )) WHERE rn = 1
    ), packed AS (
      SELECT doc_id,
             CAST(floor(coalesce(sum(wt) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {budget}) AS BIGINT) AS shard_id
      FROM (SELECT sp.doc_id, len(bt.toks)::DOUBLE AS wt
            FROM spanrep sp JOIN btoks bt ON sp.doc_id = bt.doc_id
            WHERE sp.overlap_frac < 0.5
              AND sp.doc_id NOT IN (SELECT batch_id FROM best))
    )
    SELECT bt.doc_id,
           bt.n_paras,
           bt.n_paras_dropped,
           sp.n_fps,
           sp.overlap_frac,
           CAST(CASE WHEN sp.overlap_frac >= 0.5 THEN 1 ELSE 0 END
                AS BIGINT) AS span_dup,
           coalesce(best.dup_of, -1) AS dup_of,
           coalesce(best.jaccard, 0.0) AS jaccard,
           CAST(len(bt.toks) AS BIGINT) AS n_tokens,
           coalesce(packed.shard_id, -1) AS shard_id
    FROM btoks bt
    JOIN spanrep sp ON bt.doc_id = sp.doc_id
    LEFT JOIN best ON bt.doc_id = best.batch_id
    LEFT JOIN packed ON bt.doc_id = packed.doc_id
    """


@register("pipeline_daily_ingest", _daily_ingest_oracle())
def pipeline_daily_ingest(spark, sf_dir):
    """Round-11 (VERDICT r10 #8 stretch): ONE production day of the
    standing-state ingest loop, composed end-to-end and oracled as a
    whole - the demo artifact of the family. An arriving batch (80%
    id-threshold split; arrival order IS id order) runs:

    1. paragraph screen against the persisted paragraph-hash store
       (drop_duplicate_paragraphs_incremental) - producing CLEANED
       text that every later stage consumes (the cross-stage coupling
       the per-stage oracles cannot pin);
    2. span-overlap screen of the cleaned text against the persisted
       63-bit winnowing store; docs with >= 0.5 overlap are dropped;
    3. minhash-LSH screen of the survivors against the persisted band
       index (incremental_lsh_dedup: band match -> exact-Jaccard
       verify >= 0.5, smallest matching corpus id wins);
    4. token-budget packing of the kept docs into ~_DAILY_BUDGET-token
       shards (pack_shards exclusive cumsum).

    All three standing stores are written to parquet and READ BACK, so
    the driver row verifies the full persist->reload->screen plumbing.
    Returns one row per batch doc with every stage's verdict:
    (doc_id, n_paras, n_paras_dropped, n_fps, overlap_frac, span_dup,
    dup_of, jaccard, n_tokens, shard_id) - dropped docs carry
    dup_of/shard_id = -1. Batch-side cost only at every stage: corpus
    text is touched exactly once per store build (a standing corpus
    would have built them on ITS ingest day)."""
    import re

    d = fan_out(_t(spark, sf_dir, "documents"))
    toks0 = TX.tokenize(F.col("text"))
    n_chunks = F.greatest(
        F.ceil(F.size(toks0) / F.lit(_PARA_CHUNK)).cast("int"), F.lit(1)
    )
    para_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda c: F.array_join(
                F.slice(toks0, (c - 1) * _PARA_CHUNK + 1, _PARA_CHUNK), " "
            ),
        ),
        "\n",
    )
    pdf = d.select("doc_id", para_text.alias("text"))
    cut = (pdf.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    corpus = pdf.filter(F.col("doc_id") * 5 < 4 * cut)
    batch = pdf.filter(F.col("doc_id") * 5 >= 4 * cut)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    # unique root per invocation: the store dirs are written and read
    # back within one run, and re-running into the SAME dirs can serve
    # a reader a stale file listing from the session's file-status
    # cache once the writes land from worker threads
    root = _run_tmp(f"daily_{tag}_{next(_DAILY_SEQ)}")
    # the three standing stores: persisted, then READ BACK. Three
    # independent writes sharing the corpus frame (whose paragraph
    # reassembly expression is the expensive part) - persist it once
    # and overlap the builds (guide 2.6); it is read again by the
    # stage-3 LSH verify, so it stays cached until then.
    corpus = corpus.persist()
    pstore, wstore, lidx = run_concurrently(
        lambda: _store(
            DD.paragraph_hash_index(corpus, "doc_id", "text"),
            f"{root}/para",
        ),
        lambda: _store(
            DD.winnow_index(corpus, "doc_id", "text"), f"{root}/winnow"
        ),
        lambda: _store(
            DD.lsh_band_index(
                corpus, "doc_id", "text", n=3, num_hashes=32, bands=8
            ),
            f"{root}/lsh",
        ),
    )
    # stage 1: paragraph screen -> cleaned text (feeds everything)
    cleaned = DD.drop_duplicate_paragraphs_incremental(
        batch, pstore, "doc_id", "text", sep="\n"
    ).select(
        "doc_id", "n_paras",
        F.col("n_dropped").alias("n_paras_dropped"),
        F.col("text_clean").alias("text"),
    )
    cleaned.persist()
    cleaned.count()  # eager: span + LSH + pack + assembly all consume it
    # stage 2: span screen on the CLEANED text
    span = DD.span_overlap_against_index(
        cleaned, wstore, "doc_id", "text", window=4
    ).select("doc_id", "n_fps", "overlap_frac")
    span.persist()
    span.count()
    surv = cleaned.join(
        span.filter(F.col("overlap_frac") < 0.5).select("doc_id"),
        "doc_id", "left_semi",
    )
    # stage 3: LSH screen of the survivors vs the standing band index
    best = DD.incremental_lsh_dedup(
        surv, lidx, corpus, "doc_id", "text",
        n=3, num_hashes=32, bands=8, threshold=0.5,
    )
    best.persist()
    best.count()
    corpus.unpersist(blocking=False)
    # stage 4: pack the kept docs into ~token-budget shards
    kept = surv.join(
        best.select(F.col("batch_id").alias("doc_id")), "doc_id",
        "left_anti",
    ).select(
        "doc_id", F.size(TX.tokenize(F.col("text"))).cast("double").alias("wt")
    )
    packed = SP.pack_shards(
        kept, "doc_id", "wt", _DAILY_BUDGET, materialize=True
    )
    out = (
        cleaned.select(
            "doc_id", "n_paras", "n_paras_dropped",
            F.size(TX.tokenize(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .join(span, "doc_id")
        .join(
            best.select(
                F.col("batch_id").alias("doc_id"), "dup_of", "jaccard"
            ),
            "doc_id", "left",
        )
        .join(packed.select("doc_id", "shard_id"), "doc_id", "left")
        .select(
            "doc_id", "n_paras", "n_paras_dropped", "n_fps", "overlap_frac",
            (F.col("overlap_frac") >= 0.5).cast("long").alias("span_dup"),
            F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            "n_tokens",
            F.coalesce("shard_id", F.lit(-1)).cast("long").alias("shard_id"),
        )
    )
    # the verdicts frame is per-batch-doc sized; eagerly checkpoint it
    # and RELEASE the private stage frames (cleaned/span/best) - they
    # exist only to fan into this result, and leaving them pinned is
    # exactly the loop-wide eviction pressure the r11 bench measured
    # (in-loop costs 2-4x the isolated reruns of identical code)
    out = out.localCheckpoint(eager=True)
    for h in (cleaned, span, best):
        h.unpersist()
    return out


@register(
    "dedup_simhash_values",
    f"""
    SELECT doc_id,
           -- ::BIGINT: list_sum yields HUGEINT, which pandas-based
           -- harnesses convert to lossy float64 (60-bit values exceed
           -- the 52-bit mantissa); the cast keeps int64 end to end
           coalesce(list_sum(list_transform(range(0, {DD.SIMHASH_BITS}), b ->
             CASE WHEN coalesce(list_sum(list_transform(th, hh ->
                    CASE WHEN (hh & (1::BIGINT << b)) <> 0 THEN 1 ELSE -1 END)), 0) > 0
                  THEN (1::BIGINT << b) ELSE 0 END)), 0)::BIGINT AS simhash
    FROM (SELECT doc_id,
                 list_transform({_TOKS_SQL},
                                t -> cast(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS th
          FROM documents) t
    """,
)
def dedup_simhash_values(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_df(d, "doc_id", "text")


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) * 10000) / 10000 AS cosine
    FROM v a, v b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return DD.embedding_cosine_pairs_gemm(e, "vec_id", "embedding", threshold=0.4)


# =====================================================================
# Similarity search
# =====================================================================

@register(
    "sim_knn_bruteforce",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 DESC,
                        c.vec_id ASC) AS rank
      FROM v q, v c
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
    WHERE rank <= 5
    """,
)
def sim_knn_bruteforce(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 10)
    return SIM.cosine_topk(e, queries_df, "vec_id", "embedding", k=5)


def _mmr_oracle(top_n: int = 20, k: int = 8, lam: float = 0.7) -> str:
    """Unrolled k-step greedy MMR: each step picks the (quantized
    score desc, id) argmax of lam*rel - (1-lam)*max-cosine-to-selected
    over the not-yet-selected candidates. (1 - lam) is formatted from
    the PYTHON double so both engines subtract the identical IEEE
    value (0.7 -> 0.30000000000000004)."""
    lam_r = repr(float(lam))
    om = repr(1.0 - float(lam))
    q6 = "* 1000000) / 1000000"
    steps = []
    # every step CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    # sel{i} referencing sel{i-1} twice (join + NOT IN) would inline
    # the whole chain EXPONENTIALLY (2^k copies of the candidate
    # cross-join - measured as a hang at k=8 even on 50 vectors)
    for i in range(2, k + 1):
        steps.append(f"""
    s{i} AS MATERIALIZED (
      SELECT c.id, c.vec, c.nrm, c.rel,
             floor(({lam_r}::DOUBLE * c.rel - {om}::DOUBLE *
               max(floor(list_dot_product(c.vec, s.vec)
                         / (c.nrm * s.nrm) {q6}))
               {q6} AS score
      FROM cand c CROSS JOIN sel{i - 1} s
      WHERE c.id NOT IN (SELECT id FROM sel{i - 1})
      GROUP BY c.id, c.vec, c.nrm, c.rel
      ORDER BY score DESC, c.id LIMIT 1
    ),
    sel{i} AS MATERIALIZED (
      SELECT id, vec, nrm, rel FROM sel{i - 1}
      UNION ALL SELECT id, vec, nrm, rel FROM s{i})""")
    union = "\n    UNION ALL\n    ".join(
        ["SELECT id, 1 AS mmr_rank, score AS mmr_score FROM s1"]
        + [f"SELECT id, {i}, score FROM s{i}" for i in range(2, k + 1)]
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                   x -> x*x))) AS nrm
               FROM embeddings),
    cand AS MATERIALIZED (
      SELECT neighbor_id AS id, vec, nrm, cosine AS rel FROM (
        SELECT c.vec_id AS neighbor_id, c.vec, c.nrm,
               floor(list_dot_product(q.vec, c.vec)
                     / (q.nrm * c.nrm) {q6} AS cosine,
               row_number() OVER (
                 ORDER BY floor(list_dot_product(q.vec, c.vec)
                                / (q.nrm * c.nrm) {q6} DESC,
                          c.vec_id ASC) AS rank
        FROM v q, v c
        WHERE q.vec_id = 0 AND c.vec_id <> 0) t
      WHERE rank <= {top_n}
    ),
    s1 AS MATERIALIZED (
      SELECT id, vec, nrm, rel, floor(rel {q6} AS score
      FROM cand ORDER BY floor(rel {q6} DESC, id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT id, vec, nrm, rel FROM s1),{",".join(steps)}
    {union}
    """


@register("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark, sf_dir):
    """Round-11: Maximal Marginal Relevance re-ranking
    (operators/similarity.mmr_rerank, Carbonell & Goldstein 1998) -
    the diversity pass over a dense retriever's top-N: greedily pick 8
    of the cosine top-20 (vs doc 0's embedding), each maximizing
    0.7*relevance - 0.3*max-cosine-to-already-selected, so redundant
    near-duplicates of an already-picked item sink even when highly
    relevant - the RAG context-assembly / diverse-exemplar selection
    step. Sequential by nature: k one-row driver pulls, each preceded
    by ONE distributed pass with the selected vectors inlined as a
    nested-array literal (the k-means centroid idiom). The oracle
    unrolls the greedy recursion into k CTE steps over the identical
    quantized arithmetic."""
    e = _t(spark, sf_dir, "embeddings")
    cand = SIM.cosine_topk(
        e, e.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=20
    ).join(
        e.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    )
    return SIM.mmr_rerank(
        cand, "neighbor_id", "embedding", "cosine", k=8, lam=0.7
    ).select(F.col("id"), "mmr_rank", "mmr_score")


@register(
    "sim_knn_int8_dot",
    """
    WITH s AS (SELECT vec_id,
                      list_max(list_transform(embedding, v -> abs(v::DOUBLE)))
                        AS mx
               FROM embeddings),
    q AS (SELECT e.vec_id,
                 list_transform(e.embedding,
                   v -> floor(v::DOUBLE *
                          (CASE WHEN s.mx > 0 THEN 127.0 / s.mx
                                ELSE 0.0 END) + 0.5)) AS q8
          FROM embeddings e JOIN s USING (vec_id))
    SELECT query_id, neighbor_id, dot, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             cast(list_dot_product(a.q8, b.q8) AS BIGINT) AS dot,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.q8, b.q8) DESC, b.vec_id ASC)
               AS rank
      FROM q a, q b
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id) t
    WHERE rank <= 5
    """,
)
def sim_knn_int8_dot(spark, sf_dir):
    """The quantized candidate-generation pass end-to-end: int8 codes ->
    top-k by INTEGER dot product (exact on both engines - no float-rank
    ambiguity at the k-th place, unlike float cosine which needs the
    quantize-then-rank trick above). At scale the codes are what
    shuffles (4x less than float32); survivors re-rank in float.
    Quantized AND scored in one Arrow-batched numpy pass
    (similarity.int8_dot_topk_pandas) - the interpreted
    zip_with/aggregate dot walked the expression tree per element and
    was SLOWER than the float brute force it is supposed to accelerate
    (3.4x at sf0.1), and even the Column-expression quantize pass alone
    cost more than the GEMM."""
    e = _t(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 10)
    return SIM.int8_dot_topk_pandas(e, queries_df, "vec_id", "embedding", k=5)


def _ann_lsh_oracle(planes: int = 4, k: int = 5, dim: int = 64, seed: int = 7) -> str:
    """The LSH buckets are exactly reproducible: weights are fixed
    literals (similarity._plane_weights), bucket bit p = sign(w_p . x)."""
    ws = SIM._plane_weights(dim, planes, seed)

    def warr(p: int) -> str:
        return "[" + ", ".join(str(x) for x in ws[p]) + "]::DOUBLE[]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vec, {warr(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(planes)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings),
    b AS (SELECT vec_id, vec, nrm, {bucket} AS bucket FROM v WHERE nrm > 0)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 DESC,
                        c.vec_id ASC) AS rank
      FROM b q JOIN b c ON q.bucket = c.bucket
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
    WHERE rank <= {k}
    """


@register("sim_ann_lsh", _ann_lsh_oracle())
def sim_ann_lsh(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 10)
    # dim=64: the testdata embedding width (a fixture constant like k
    # and planes) - passing it keeps plan construction job-free
    return SIM.ann_lsh_topk(
        e, queries_df, "vec_id", "embedding", k=5, planes=4, dim=64
    )


@register(
    "sim_knn_pandas_gemm",
    # The GEMM path floor-quantizes like cosine_topk, so the exact
    # brute-force SQL is its oracle too.
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 DESC,
                        c.vec_id ASC) AS rank
      FROM v q, v c
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
    WHERE rank <= 5
    """,
)
def sim_knn_pandas_gemm(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 10)
    return SIM.cosine_topk_pandas(e, queries_df, "vec_id", "embedding", k=5)


@register(
    "sim_ivf_topk",
    # Relational form of the same index: centroids = 16 lowest-id
    # vectors, assignment/probes by cosine argmax (ties -> lower cid).
    # NULL and zero-norm vectors are excluded exactly as the operator's
    # _normalized does (engines disagree on NaN-vs-NULL ranking, so the
    # exclusion must be explicit, not left to NULL propagation).
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                    vec AS cvec, nrm AS cnrm
             FROM v ORDER BY vec_id LIMIT 16),
    scored_cells AS (
      SELECT v.vec_id, v.vec, v.nrm, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_dot_product(v.vec, c.cvec) / (v.nrm * c.cnrm) DESC,
                                         c.cid ASC) AS rn
      FROM v, cent c WHERE v.nrm > 0),
    assign AS (SELECT vec_id, vec, nrm, cid FROM scored_cells WHERE rn = 1),
    probes AS (SELECT vec_id AS qid, vec AS qvec, nrm AS qnrm, cid
               FROM scored_cells WHERE rn <= 4 AND vec_id < 10)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
             floor(list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY p.qid
               ORDER BY floor(list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) * 1000000) / 1000000 DESC,
                        a.vec_id ASC) AS rank
      FROM probes p JOIN assign a ON p.cid = a.cid
      WHERE p.qid <> a.vec_id) t
    WHERE rank <= 5
    """,
)
def sim_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    queries_df = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(
        e, queries_df, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4
    )


@register(
    "sim_ivf_delta_append",
    # sim_ivf_topk's oracle with the quantizer restricted to the BASE
    # split: centroids are the 16 lowest-id base vectors, assignment
    # covers ALL vectors (base + delta - per-row with the same fixed
    # quantizer, so postings(base) UNION postings(delta) IS the full
    # assignment), probes for vec_id < 10 regardless of split.
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                    vec AS cvec, nrm AS cnrm
             FROM v WHERE vec_id % 10 < 8 ORDER BY vec_id LIMIT 16),
    scored_cells AS (
      SELECT v.vec_id, v.vec, v.nrm, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_dot_product(v.vec, c.cvec) / (v.nrm * c.cnrm) DESC,
                                         c.cid ASC) AS rn
      FROM v, cent c WHERE v.nrm > 0),
    assign AS (SELECT vec_id, vec, nrm, cid FROM scored_cells WHERE rn = 1),
    probes AS (SELECT vec_id AS qid, vec AS qvec, nrm AS qnrm, cid
               FROM scored_cells WHERE rn <= 4 AND vec_id < 10)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
             floor(list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY p.qid
               ORDER BY floor(list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) * 1000000) / 1000000 DESC,
                        a.vec_id ASC) AS rank
      FROM probes p JOIN assign a ON p.cid = a.cid
      WHERE p.qid <> a.vec_id) t
    WHERE rank <= 5
    """,
)
def sim_ivf_delta_append(spark, sf_dir):
    """Round-9: the daily-embedding-ingest loop over a PERSISTED IVF
    postings table. embeddings split by vec_id % 10: the base (<8)
    builds the standing postings parquet; the delta (>=8) is assigned
    with the SAME base-derived quantizer and APPENDED - no standing
    posting read or rewritten (the third delta-append store after the
    token shards and the LSH band index). Queries (vec_id < 10, both
    splits) then run ivf_topk_postings over the read-back parquet:
    zero corpus-side recompute, probe join prunes to n_probe cells.
    The driver row verifies build + append + reload + probe end to end
    against the closed-form assignment over all vectors."""
    import os
    import re

    e = _t(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 10 < 8)
    delta = e.filter(F.col("vec_id") % 10 >= 8)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    path = os.path.join(_run_tmp(f"ivfpost_{tag}"), "postings")
    # resolve the base quantizer ONCE (one orderBy/limit/collect job)
    # and share it across build, append and probe - the same pattern
    # ivf_topk uses internally (round-9 review)
    cents = SIM._resolve_centroids(None, base, "vec_id", "embedding", 16)
    base_post = SIM.ivf_postings(
        base, "vec_id", "embedding", centroids_resolved=cents
    )
    base_post.write.mode("overwrite").parquet(path)
    SIM.ivf_postings(
        delta, "vec_id", "embedding", centroids_resolved=cents
    ).write.mode("append").parquet(path)
    # read back under the writer's schema (both waves share it) -
    # skips the footer-inference open (guide section 6)
    postings = spark.read.schema(base_post.schema).parquet(path)
    queries_df = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk_postings(
        postings, queries_df, "vec_id", "embedding",
        k=5, n_probe=4, centroids_resolved=cents,
    )


def _kmeans_ctes(
    k: int,
    iters: int,
    prefix: str = "",
    vexpr: str = "list_transform(embedding, x -> x::DOUBLE)",
    where: str = "embedding IS NOT NULL",
) -> tuple[list[str], str]:
    """The unrolled Lloyd's-iteration CTE chain; returns (ctes, name of
    the final centroid CTE). Shared by the kmeans assignment oracle,
    the learned-centroid IVF oracle, and (prefixed, once per subspace
    slice) the PQ oracle."""
    bucket = (
        "cast(('0x' || substr(md5('42' || chr(31) || "
        "cast(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000"
    )
    dist = (
        "list_reduce(list_transform(range(1, len(p.v) + 1), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    p = prefix
    ctes = [
        f"""{p}pts AS MATERIALIZED (
      SELECT vec_id, {vexpr} AS v
      FROM embeddings WHERE {where}
    )""",
        f"""{p}c0 AS (
      SELECT cid, c FROM (
        SELECT row_number() OVER (ORDER BY {bucket}, vec_id) - 1 AS cid,
               list_transform(v, x -> floor(x * 1000000) / 1000000) AS c
        FROM {p}pts)
      WHERE cid < {k}
    )""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""{p}a{t} AS (
      SELECT vec_id, v, cluster FROM (
        SELECT p.vec_id, p.v, c.cid AS cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {p}pts p CROSS JOIN {p}c{t - 1} c)
      WHERE rn = 1
    )""")
        ctes.append(f"""{p}m{t} AS (
      SELECT cluster,
             list(floor(s::DOUBLE / n) / 1000000 ORDER BY i) AS cl
      FROM (
        SELECT a.cluster, u.i,
               sum(cast(floor(a.v[u.i] * 1000000) AS BIGINT)) AS s,
               count(*) AS n
        FROM {p}a{t} a, unnest(range(1, len(a.v) + 1)) AS u(i)
        GROUP BY a.cluster, u.i)
      GROUP BY cluster
    )""")
        ctes.append(f"""{p}c{t} AS MATERIALIZED (
      SELECT prev.cid, coalesce(m.cl, prev.c) AS c
      FROM {p}c{t - 1} prev LEFT JOIN {p}m{t} m ON m.cluster = prev.cid
    )""")
    return ctes, f"{p}c{iters}"


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    """Unrolled-SQL twin of clustering.kmeans_fit + assign: one CTE pair
    (assign, M-step) per iteration. Exactness contract documented in
    operators/clustering.py: integer-scaled sums, floor-quantized
    centroids, left-fold distances."""
    ctes, _final = _kmeans_ctes(k, iters)
    dist = (
        "list_reduce(list_transform(range(1, len(p.v) + 1), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    return f"""
    WITH {', '.join(ctes)}
    SELECT vec_id, cluster, floor(d * 1000000) / 1000000 AS dist_q6
    FROM (
      SELECT p.vec_id, c.cid AS cluster, {dist} AS d,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY {dist}, c.cid) AS rn
      FROM pts p CROSS JOIN c{iters} c)
    WHERE rn = 1
    """


def _pq_oracle(m: int = 4, k_sub: int = 8, iters: int = 2, sub: int = 16,
               topk: int = 5) -> str:
    """Product-quantization ADC oracle: one prefixed kmeans CTE chain
    per subspace slice (identical init rows - the init hashes ids),
    per-subspace code assignment + query distance tables, then the
    ADC sum as a j-sorted fold. MATERIALIZED chain state (the BPE
    lesson): four chains of plain CTEs would re-inline per reference."""
    ctes: list[str] = []
    parts_selects = []
    dist = (
        "list_reduce(list_transform(range(1, len(p.v) + 1), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        vexpr = f"list_transform(embedding[{lo}:{hi}], x -> x::DOUBLE)"
        chain, final = _kmeans_ctes(k_sub, iters, prefix=f"s{j}_", vexpr=vexpr)
        ctes += chain
        ctes.append(f"""s{j}_code AS MATERIALIZED (
      SELECT vec_id, cid AS code FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM s{j}_pts p CROSS JOIN {final} c) WHERE rn = 1)""")
        ctes.append(f"""s{j}_qt AS MATERIALIZED (
      SELECT p.vec_id AS qid, c.cid AS code, {dist} AS dq
      FROM s{j}_pts p CROSS JOIN {final} c WHERE p.vec_id < 10)""")
        parts_selects.append(
            f"SELECT q.qid AS query_id, s.vec_id AS neighbor_id, "
            f"{j} AS j, q.dq "
            f"FROM s{j}_code s JOIN s{j}_qt q ON s.code = q.code"
        )
    parts = " UNION ALL ".join(parts_selects)
    return f"""
    WITH {', '.join(ctes)},
    parts AS ({parts}),
    agg AS (
      SELECT query_id, neighbor_id,
             floor(list_reduce(list(dq ORDER BY j), (a, b) -> a + b)
                   * 1000000) / 1000000 AS adc_q6
      FROM parts WHERE query_id <> neighbor_id
      GROUP BY query_id, neighbor_id)
    SELECT query_id, neighbor_id, adc_q6, rank FROM (
      SELECT agg.*, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_q6, neighbor_id) AS rank FROM agg) t
    WHERE rank <= {topk}
    """


@register("sim_pq_adc_topk", _pq_oracle())
def sim_pq_adc_topk(spark, sf_dir):
    """Product quantization + asymmetric-distance top-k
    (operators/similarity.pq_train/pq_encode/pq_topk, Jegou et al.
    2011): 4 subspaces x 8 centroids learned by the bit-reproducible
    kmeans, corpus encoded to 4 small ints per vector (16x compression
    at this dim; 64x at k_sub=256), queries scored as sums of
    broadcast-table lookups. The compression complement of the
    IVF/LSH candidate generators."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return SIM.pq_topk(
        e, q, "vec_id", "embedding", k=5, m=4, k_sub=8, iterations=2,
        dim=64, use_cache=True,
    )


def _kmeans_refresh_oracle(k: int = 4, iters: int = 2) -> str:
    """Incremental-centroid-refresh oracle: fit the standing centroids
    over the CORPUS split (the unrolled Lloyd chain, corpus-restricted
    by the same 80% id threshold), then one exact M-step over ALL
    vectors at those centroids - the identity kmeans_refresh claims
    (corpus stats + batch stats fold == M-step over the union)."""
    ctes, final = _kmeans_ctes(
        k,
        iters,
        where=(
            "embedding IS NOT NULL AND vec_id * 5 < 4 * "
            "(SELECT max(vec_id) + 1 FROM embeddings)"
        ),
    )
    dist = (
        "list_reduce(list_transform(range(1, len(p.v) + 1), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    return f"""
    WITH {', '.join(ctes)},
    allpts AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    aa AS (
      SELECT vec_id, v, cluster FROM (
        SELECT p.vec_id, p.v, c.cid AS cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM allpts p CROSS JOIN {final} c)
      WHERE rn = 1
    ),
    mm AS (
      SELECT a.cluster, u.i - 1 AS pos,
             sum(cast(floor(a.v[u.i] * 1000000) AS BIGINT)) AS s,
             count(*) AS n
      FROM aa a, unnest(range(1, len(a.v) + 1)) AS u(i)
      GROUP BY a.cluster, u.i
    ),
    grid AS (
      SELECT c.cid AS cluster, u.i - 1 AS pos, c.c[u.i] AS old_value
      FROM {final} c, unnest(range(1, len(c.c) + 1)) AS u(i)
    )
    SELECT g.cluster, g.pos,
           coalesce(floor(mm.s::DOUBLE / mm.n) / 1000000, g.old_value)
             AS c_value,
           coalesce(mm.n, 0) AS n_total
    FROM grid g LEFT JOIN mm
      ON mm.cluster = g.cluster AND mm.pos = g.pos
    """


@register("sim_kmeans_refresh", _kmeans_refresh_oracle(k=4, iters=2))
def sim_kmeans_refresh(spark, sf_dir):
    """Round-11: incremental centroid maintenance
    (operators/clustering.kmeans_stats + kmeans_refresh) - the
    standing-state twin of sim_kmeans_assign, and the missing half of
    the IVF drift story (sim_ivf_delta_append keeps the CELLS fresh;
    this keeps the cell CENTERS fresh without re-reading history).
    embeddings split at the 80% id threshold; standing centroids fit
    on the corpus (the bit-reproducible Lloyd chain), the corpus's
    integer-scaled sufficient statistics (cluster, pos, s, n) written
    to parquet, READ BACK, folded with the arriving batch's own stats
    by grouped SUM (exact - integer sums add), and one M-step emits
    the refreshed centroid matrix. The oracle pins the identity: the
    fold equals one Lloyd M-step over the UNION at the standing
    centroids. Clusters empty in both splits keep their old center."""
    import os
    import re

    e = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    cut_row = e.agg(F.max("vec_id")).collect()[0][0]
    cut = (cut_row or 0) + 1
    corpus = e.filter(F.col("vec_id") * 5 < 4 * cut)
    batch = e.filter(F.col("vec_id") * 5 >= 4 * cut)
    cents = CL.kmeans_fit(
        corpus, "vec_id", "embedding", k=4, iterations=2, seed=42,
        use_cache=True,
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"kmstats_{tag}")
    spath = os.path.join(root, "stats")
    stats_back = _store(CL.kmeans_stats(corpus, "embedding", cents), spath)
    return CL.kmeans_refresh(
        spark,
        cents,
        stats_back,
        CL.kmeans_stats(batch, "embedding", cents),
    )


@register("sim_kmeans_assign", _kmeans_oracle(k=4, iters=2))
def sim_kmeans_assign(spark, sf_dir):
    """Learned clustering (operators/clustering.kmeans_fit): 2 Lloyd's
    iterations at k=4, then the final assignment. The genuinely
    iterative path of the similarity family - sim_ivf_topk consumes
    centroids, this one produces them. Exact oracle despite iterating
    on floats: integer-scaled centroid sums + floor quantization +
    fold-ordered distances make every round bit-reproducible across
    engines (full contract in operators/clustering.py)."""
    e = _t(spark, sf_dir, "embeddings")
    cents = CL.kmeans_fit(e, "vec_id", "embedding", k=4, iterations=2,
                          seed=42, use_cache=True)
    out = CL.assign_clusters(e.filter(F.col("embedding").isNotNull()),
                             "vec_id", "embedding", cents)
    return out.select(
        "vec_id", "cluster", quantize(F.col("dist_sq"), 6).alias("dist_q6")
    )


def _ivf_kmeans_oracle(k_cent: int = 8, iters: int = 2, n_probe: int = 2,
                       topk: int = 5) -> str:
    """Learned-centroid IVF: the kmeans CTE chain feeds the IVF
    assign/probe/scan SQL (same shape as sim_ivf_topk's oracle, centroid
    source swapped)."""
    ctes, final = _kmeans_ctes(k_cent, iters)
    ctes.append(f"""v AS (
      SELECT vec_id, v AS vec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      FROM pts)""")
    ctes.append(f"""cent AS (
      SELECT cid, c AS cvec,
             sqrt(list_sum(list_transform(c, x -> x*x))) AS cnrm
      FROM {final})""")
    ctes.append("""scored_cells AS (
      SELECT v.vec_id, v.vec, v.nrm, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_dot_product(v.vec, c.cvec) / (v.nrm * c.cnrm) DESC,
                                         c.cid ASC) AS rn
      FROM v, cent c)""")
    ctes.append("""assign AS (
      SELECT vec_id, vec, nrm, cid FROM scored_cells WHERE rn = 1)""")
    ctes.append(f"""probes AS (
      SELECT vec_id AS qid, vec AS qvec, nrm AS qnrm, cid
      FROM scored_cells WHERE rn <= {n_probe} AND vec_id < 10)""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
             floor(list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY p.qid
               ORDER BY floor(list_dot_product(p.qvec, a.vec) / (p.qnrm * a.nrm) * 1000000) / 1000000 DESC,
                        a.vec_id ASC) AS rank
      FROM probes p JOIN assign a ON p.cid = a.cid
      WHERE p.qid <> a.vec_id) t
    WHERE rank <= {topk}
    """


@register("sim_ivf_kmeans_topk", _ivf_kmeans_oracle())
def sim_ivf_kmeans_topk(spark, sf_dir):
    """The components composed: kmeans_fit LEARNS the coarse quantizer,
    ivf_topk consumes it (centroids=...) - the production IVF shape
    (train on data, assign, probe) instead of sim_ivf_topk's
    deterministic first-n quantizer. Still exactly oracle-checkable
    because the learned centroids are bit-reproducible (see
    operators/clustering.py)."""
    e = _t(spark, sf_dir, "embeddings")
    cents = CL.kmeans_fit(e, "vec_id", "embedding", k=8, iterations=2,
                          seed=42, use_cache=True)
    queries_df = e.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(
        e, queries_df, "vec_id", "embedding",
        k=5, n_probe=2, centroids=cents,
    )


def _semantic_dedup_oracle(k: int = 8, iters: int = 2, threshold: float = 0.5) -> str:
    """SemDeDup: the kmeans CTE chain feeds a within-cluster cosine
    near-dup prune (greedy keep-lowest-id). Relational twin of
    dedup.semantic_dedup."""
    ctes, final = _kmeans_ctes(k, iters)
    dist = (
        "list_reduce(list_transform(range(1, len(p.v) + 1), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    ctes.append(f"""assign AS (
      SELECT vec_id, v, cluster FROM (
        SELECT p.vec_id, p.v, c.cid AS cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM pts p CROSS JOIN {final} c)
      WHERE rn = 1)""")
    ctes.append("""vv AS (
      SELECT vec_id, v AS vec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm, cluster
      FROM assign)""")
    ctes.append(f"""dropped AS (
      SELECT DISTINCT b.vec_id
      FROM vv a JOIN vv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= {threshold})""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT v.vec_id, v.cluster,
           (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM vv v LEFT JOIN dropped d USING (vec_id)
    """


def _semantic_incremental_oracle(
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.5,
    out_where: str = "",
) -> str:
    """Incremental-SemDeDup oracle: fit the standing centroids over the
    CORPUS split only (80% id threshold - the standing quantizer), then
    the GLOBAL within-cluster prune over ALL vectors at those centroids.
    That global answer IS the union the query returns (corpus's own
    prune + the batch screened against the standing postings): batch
    ids all exceed corpus ids, so greedy-by-id never lets a batch
    vector influence a corpus verdict, and a batch vector's smaller-id
    neighbors are exactly store + earlier-batch - the identity
    semantic_dedup_incremental claims."""
    ctes, final = _kmeans_ctes(
        k,
        iters,
        where=(
            "embedding IS NOT NULL AND vec_id * 5 < 4 * "
            "(SELECT max(vec_id) + 1 FROM embeddings)"
        ),
    )
    dist = (
        "list_reduce(list_transform(range(1, len(p.v) + 1), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    return f"""
    WITH {', '.join(ctes)},
    allpts AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    assign AS (
      SELECT vec_id, v, cluster FROM (
        SELECT p.vec_id, p.v, c.cid AS cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM allpts p CROSS JOIN {final} c)
      WHERE rn = 1
    ),
    vv AS (
      SELECT vec_id, v AS vec,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm, cluster
      FROM assign
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM vv a JOIN vv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= {threshold}
    )
    SELECT v.vec_id, v.cluster,
           (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM vv v LEFT JOIN dropped d USING (vec_id)
    {out_where}
    """


@register("dedup_semantic_incremental", _semantic_incremental_oracle())
def dedup_semantic_incremental(spark, sf_dir):
    """Round-12: SemDeDup screening of an ARRIVING batch against a
    STANDING postings store (operators/dedup.semantic_postings +
    semantic_dedup_incremental) - the embedding-space member of the
    incremental screen family (paragraph / span / substring / LSH /
    boilerplate all have standing twins; this completes the set).
    embeddings split at the 80% id threshold; the standing quantizer
    fit on the corpus (bit-reproducible Lloyd chain), the corpus's
    cell postings written to parquet PARTITIONED BY cell, READ BACK,
    and the batch screened against ONLY its own cells (broadcast
    semi-join prune - untouched cells never read); corpus embeddings
    never re-scored. Returns corpus's own prune unioned with the batch
    screen; the oracle pins the identity: that union equals the GLOBAL
    SemDeDup over all vectors at the standing centroids."""
    import os
    import re

    raw = _t(spark, sf_dir, "embeddings")
    # cut over ALL rows (null embeddings included) - the oracle's
    # scalar subquery sees the unfiltered table, and a NULL-embedding
    # row holding the max id must not shift the split between engines
    cut = (raw.agg(F.max("vec_id")).collect()[0][0] or 0) + 1
    e = raw.filter(F.col("embedding").isNotNull())
    corpus = e.filter(F.col("vec_id") * 5 < 4 * cut)
    batch = e.filter(F.col("vec_id") * 5 >= 4 * cut)
    cents = CL.kmeans_fit(
        corpus, "vec_id", "embedding", k=8, iterations=2, seed=42,
        use_cache=True,
    )
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"sem_postings_{tag}")
    ppath = os.path.join(root, "postings")
    DD.semantic_postings(corpus, "vec_id", "embedding", cents).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(ppath)
    store = spark.read.parquet(ppath)
    inc = DD.semantic_dedup_incremental(
        batch, store, "vec_id", "embedding", cents, threshold=0.5
    )
    return DD.semantic_dedup(
        corpus, "vec_id", "embedding", cents, threshold=0.5
    ).unionByName(inc)


import itertools as _itertools_ss  # noqa: E402

#: per-invocation sequence for the streaming-semantic query's fresh
#: out/store/checkpoint roots (the _CFE_SEQ idiom)
_SSEM_SEQ = _itertools_ss.count()


@register(
    "stream_semantic_dedup",
    _semantic_incremental_oracle(
        out_where=(
            "WHERE v.vec_id * 5 >= 4 * "
            "(SELECT max(vec_id) + 1 FROM embeddings)"
        )
    ),
)
def stream_semantic_dedup(spark, sf_dir):
    """Round-12: streaming SemDeDup
    (streaming/ingest.stream_semantic_dedup) - the semantic screen's
    foreachBatch arm, completing its batch -> incremental -> streaming
    lifecycle. embeddings split corpus / day1 / day2 at the 80%/90%
    id thresholds; the standing quantizer fits on the corpus and the
    corpus's cell postings bootstrap the store; the two days arrive as
    two SEQUENTIAL availableNow runs (restart-driven, deterministic
    order), each trigger screening against base + earlier deltas and
    delta-appending its own assignments - so a day-2 near-dup of a
    day-1 vector drops THROUGH the store. Greedy-by-id is cumulative
    (no per-trigger threshold state), so the union of both days'
    verdicts equals the GLOBAL SemDeDup at the standing centroids
    restricted to streamed ids - the same identity oracle as
    dedup_semantic_incremental with the output sliced to the stream."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_semantic_dedup as _ssd,
    )

    raw = _t(spark, sf_dir, "embeddings")
    cut = (raw.agg(F.max("vec_id")).collect()[0][0] or 0) + 1
    e = raw.filter(F.col("embedding").isNotNull())
    v10 = F.col("vec_id") * 10
    corpus = e.filter(v10 < 8 * cut)
    days = (
        e.filter((v10 >= 8 * cut) & (v10 < 9 * cut)),
        e.filter(v10 >= 9 * cut),
    )
    cents = CL.kmeans_fit(
        corpus, "vec_id", "embedding", k=8, iterations=2, seed=42,
        use_cache=True,
    )
    global _SSEM_STAGED
    try:
        _SSEM_STAGED
    except NameError:
        _SSEM_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"ssem_{tag}")
    ppath = os.path.join(sroot, "postings")
    if sf_dir not in _SSEM_STAGED:
        DD.semantic_postings(
            corpus, "vec_id", "embedding", cents
        ).write.mode("overwrite").partitionBy("cluster").parquet(ppath)
        for i, day in enumerate(days):
            day.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sroot, f"day{i}")
            )
        _SSEM_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        d = os.path.join(sroot, f"day{i}")
        return os.path.join(
            d, next(f for f in os.listdir(d) if f.endswith(".parquet"))
        )

    seq = next(_SSEM_SEQ)
    root = _run_tmp(f"ssem_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    out_path = os.path.join(root, "out")
    store_root = os.path.join(root, "store")
    ck = os.path.join(root, "ck")
    base_postings = spark.read.parquet(ppath)
    schema = "vec_id bigint, embedding array<float>"
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _ssd(
            spark.readStream.schema(schema).parquet(sdir),
            base_postings, cents, out_path, store_root, ck,
            threshold=0.5,
        ).awaitTermination()
    if not os.path.isdir(out_path) or not any(
        f.startswith("micro_batch=") for f in os.listdir(out_path)
    ):
        return spark.createDataFrame(
            [], "vec_id bigint, cluster int, keep bigint"
        )
    return spark.read.parquet(out_path).select("vec_id", "cluster", "keep")


@register("dedup_semantic_prune", _semantic_dedup_oracle())
def dedup_semantic_prune(spark, sf_dir):
    """SemDeDup (public algorithm, Abbas et al. 2023): kmeans_fit learns
    the clustering, then near-dup search runs WITHIN clusters only - the
    pair space drops from O(n^2) to O(sum n_c^2), which is what makes
    embedding dedup feasible at corpus scale (the all-pairs
    dedup_embedding_cosine is the exact baseline it approximates).
    Greedy keep-lowest-id; exact oracle because centroids, assignment,
    and the fold-ordered cosine are all bit-reproducible."""
    e = _t(spark, sf_dir, "embeddings")
    cents = CL.kmeans_fit(e, "vec_id", "embedding", k=8, iterations=2,
                          seed=42, use_cache=True)
    return DD.semantic_dedup(e, "vec_id", "embedding", cents, threshold=0.5)


@register(
    "sim_knn_graph",
    # brute-force relational twin (the graph is exact, so the all-pairs
    # SQL is its oracle; nrm > 0 mirrors the operator's zero-norm drop)
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings WHERE embedding IS NOT NULL),
    b AS (SELECT * FROM v WHERE nrm > 0)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY floor(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm) * 1000000) / 1000000 DESC,
                        c.vec_id ASC) AS rank
      FROM b q JOIN b c ON q.vec_id <> c.vec_id) t
    WHERE rank <= 3
    """,
)
def sim_knn_graph(spark, sf_dir):
    """Self-kNN graph (operators/similarity.knn_graph): exact top-k
    neighbors for EVERY corpus vector via the triangular block-pair
    GEMM with per-task local top-k - shuffle bounded by n*blocks*k
    rows, never n^2. The corpus-scale sibling of sim_knn_bruteforce
    (whose query side must be small enough to broadcast)."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.knn_graph(e, "vec_id", "embedding", k=3, num_blocks=4)


# =====================================================================
# Text analysis
# =====================================================================

def _lang_oracle() -> str:
    langs = sorted(TX.LANG_LEXICONS)
    hit_cols = ", ".join(
        "len(list_intersect(dt, ["
        + ", ".join(f"'{w}'" for w in TX.LANG_LEXICONS[lang])
        + f"])) AS h_{lang}"
        for lang in langs
    )
    great = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + great + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN h_{lang} = {great} THEN '{lang}' "
    case += "END"
    return f"""
    SELECT doc_id, {case} AS lang_pred FROM (
      SELECT doc_id, {hit_cols}
      FROM (SELECT doc_id, list_distinct({_TOKS_SQL}) AS dt FROM documents) t
    ) h
    """


@register("text_lang_id", _lang_oracle())
def text_lang_id(spark, sf_dir):
    d = fan_out(_t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", TX.tokenize(F.col("text")).alias("toks"))
    return toks.select(
        "doc_id", TX.lang_id_from_tokens(F.col("toks")).alias("lang_pred")
    )


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(text, '{TX.BPE_ISH_RE}')) AS bpe_tokens,
           floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE /
                 greatest(length(text), 1) * 10000) / 10000 AS alpha_ratio,
           floor(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE /
                 greatest(length(text), 1) * 10000) / 10000 AS digit_ratio,
           md5(coalesce(
             array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' '),
             '')) AS fingerprint
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    d = fan_out(_t(spark, sf_dir, "documents"))
    feats = TX.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars"),
        TX.whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        quantize(feats["alpha_ratio"], 4).alias("alpha_ratio"),
        quantize(feats["digit_ratio"], 4).alias("digit_ratio"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
    )


def _fingerprint_oracle(window: int = 4) -> str:
    w1 = window - 1
    return f"""
    WITH th AS (
      SELECT doc_id,
             coalesce(list_transform(toks,
               t -> cast(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                    % {TX.ROLL_P}), []::BIGINT[]) AS th,
             coalesce(list_transform(toks,
               t -> cast(('0x' || substr(md5(t), 1, 15)) AS BIGINT)),
               []::BIGINT[]) AS thw
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
    ), fp AS (
      SELECT doc_id, th,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(thw) - {w1}, least(len(thw), 1)) + 1),
               i -> list_min(thw[i:i+{w1}])))) AS fps
      FROM th
    )
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, th),
             (acc, h) -> (acc * {TX.ROLL_B} + h) % {TX.ROLL_P}) AS roll_hash,
           md5(coalesce(array_to_string(fps, ','), '')) AS winnow_sketch,
           len(fps)::BIGINT AS n_fingerprints
    FROM fp
    """


@register("text_fingerprint", _fingerprint_oracle())
def text_fingerprint(spark, sf_dir):
    """Order-sensitive Rabin-Karp rolling hash + MOSS winnowing sketch
    per document. The roll hash folds the mod-P token hashes (the fold
    must stay < 2^31 to be exact in int64); the winnow sketch digests
    the 63-bit WIDE fingerprints - the same value space the standing
    winnow_index store persists, so this per-doc sketch and the store
    agree. Three narrow projections (tokenize -> token hashes ->
    fingerprints), each materialized once so the md5 per token runs
    once - no shuffle anywhere."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", TX.tokenize(F.col("text")).alias("toks"))
    th = toks.select(
        "doc_id",
        TX.token_hashes(F.col("toks")).alias("th"),
        TX.token_hashes_wide(F.col("toks")).alias("thw"),
    )
    fps = th.select(
        "doc_id", "th",
        TX.winnow_fingerprints(F.col("thw"), window=4).alias("fps"),
    )
    return fps.select(
        "doc_id",
        TX.rolling_hash_from_hashes(F.col("th")).alias("roll_hash"),
        F.md5(
            F.array_join(
                F.transform(F.col("fps"), lambda x: x.cast("string")), ","
            )
        ).alias("winnow_sketch"),
        F.size("fps").cast("long").alias("n_fingerprints"),
    )


# the quality-score formula, shared by the per-doc score query and the
# top-share-per-group selector below (same constants as TX.quality_score)
_QUALITY_EXPR_SQL = f"""
      CASE WHEN coalesce(length(text), 0) = 0 THEN 0.0 ELSE
        floor((
          0.35 * least(len({_TOKS_SQL})::DOUBLE / 200.0, 1.0)
        + 0.30 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE /
                  greatest(length(text), 1))
        + 0.20 * least((len(list_intersect(list_distinct({_TOKS_SQL}),
                  [{", ".join(f"'{w}'" for w in TX.LANG_LEXICONS["en"])}]))::DOUBLE /
                  greatest(len({_TOKS_SQL}), 1)) * 4.0, 1.0)
        + 0.15 * (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE /
                  greatest(length(text), 1)) * 5.0, 1.0))) * 10000) / 10000
      END
"""


@register(
    "text_quality_score",
    f"""
    SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    d = fan_out(_t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", "text", TX.tokenize(F.col("text")).alias("toks")
    )
    return toks.select(
        "doc_id",
        TX.quality_score(F.col("text"), F.col("toks")).alias("quality"),
    )


def _logreg_oracle(iterations: int = 3, lr: float = 0.5) -> str:
    """Unrolled-GD oracle for the logistic-regression quality
    classifier: one (gradient-aggregate, weight-update) CTE pair per
    iteration, the classifier.py exactness contract (source-quantized
    sigmoid, integer gradient sums, re-quantized weights)."""
    lex = ", ".join(f"'{w}'" for w in TX.LANG_LEXICONS["en"])
    sig = (
        "floor(1.0 / (1.0 + exp(-(w.b + w.w1 * f.f1 + w.w2 * f.f2"
        " + w.w3 * f.f3 + w.w4 * f.f4))) * 1000000) / 1000000"
    )
    ctes = [
        f"""feats AS MATERIALIZED (
      SELECT doc_id,
             CAST(coalesce(lang = 'en', false) AS INT) AS y,
             least(len({_TOKS_SQL})::DOUBLE / 200.0, 1.0) AS f1,
             length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g'))::DOUBLE
               / greatest(length(coalesce(text, '')), 1) AS f2,
             len(list_intersect(list_distinct({_TOKS_SQL}), [{lex}]))::DOUBLE
               / greatest(len({_TOKS_SQL}), 1) AS f3,
             length(regexp_replace(coalesce(text, ''), '[^0-9]', '', 'g'))::DOUBLE
               / greatest(length(coalesce(text, '')), 1) AS f4
      FROM documents)""",
        "w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2,"
        " 0.0 AS w3, 0.0 AS w4)",
    ]
    for t in range(1, iterations + 1):
        grads = ", ".join(
            f"sum(CAST(floor((p - y) * {'1.0' if j == 0 else f'f{j}'}"
            f" * 1000000) AS BIGINT)) AS g{j}"
            for j in range(5)
        )
        ctes.append(f"""g{t} AS MATERIALIZED (
      SELECT count(*) AS n, {grads}
      FROM (SELECT f.y, f.f1, f.f2, f.f3, f.f4, {sig} AS p
            FROM feats f CROSS JOIN w{t - 1} w) s)""")
        ups = ", ".join(
            f"floor((w.{'b' if j == 0 else f'w{j}'} - {lr}"
            f" * (g.g{j} / (g.n * 1000000.0))) * 1000000) / 1000000"
            f" AS {'b' if j == 0 else f'w{j}'}"
            for j in range(5)
        )
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT {ups}"
            f" FROM w{t - 1} w CROSS JOIN g{t} g)"
        )
    return f"""
    WITH {', '.join(ctes)}
    SELECT doc_id, y, p AS p_q6, p >= 0.5 AS predicted
    FROM (SELECT f.doc_id, f.y, {sig} AS p
          FROM feats f CROSS JOIN w{iterations} w) t
    """


@register("text_quality_classifier", _logreg_oracle())
def text_quality_classifier(spark, sf_dir):
    """Supervised quality/domain classifier
    (operators/classifier.logreg_fit/score): logistic regression over
    integer-ratio text features, trained by 3 full-batch GD iterations
    against the lang='en' label, then scored corpus-wide. The
    fastText-style classifier step of real pipelines as an exactly
    oracle-checkable iterative algorithm: source-quantized sigmoid,
    int64 gradient sums (order-independent), re-quantized weights each
    round (the kmeans recipe applied to supervised learning)."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    feats = CF.quality_feature_frame(
        d, "doc_id", "text", F.col("lang") == "en"
    )
    w = CF.logreg_fit(feats, iterations=3, lr=0.5)
    return CF.logreg_score(feats, w)


@register(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE mh_pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    ),
    clusters AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
    ),
    q AS (SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality FROM documents),
    members AS (
      SELECT q.doc_id, q.quality, c.cluster_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, q.doc_id) AS rn
      FROM q JOIN clusters c USING (doc_id))
    SELECT doc_id, quality, cluster_id FROM members WHERE rn = 1
    UNION ALL
    SELECT q.doc_id, q.quality, q.doc_id AS cluster_id
    FROM q LEFT JOIN clusters c USING (doc_id) WHERE c.doc_id IS NULL
    """,
)
def dedup_keep_best_quality(spark, sf_dir):
    """Quality-aware near-dup resolution
    (operators/dedup.keep_best_per_cluster): MinHash-LSH clusters
    resolved by keeping each cluster's HIGHEST-quality member (ties by
    id) instead of the arbitrary min-id canonical; singletons keep
    themselves. Shares the LSH pairs cache slot with
    dedup_minhash_lsh/_clusters."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5,
        materialize_result=True,
    )
    clusters = DD.connected_components(pairs)
    toks = fan_out(d).select(
        "doc_id", "text", TX.tokenize(F.col("text")).alias("toks")
    )
    scored = toks.select(
        "doc_id",
        TX.quality_score(F.col("text"), F.col("toks")).alias("quality"),
    )
    return DD.keep_best_per_cluster(scored, clusters, "doc_id", "quality")


@register(
    "sample_top_share_quality",
    f"""
    WITH s AS (SELECT doc_id, source, {_QUALITY_EXPR_SQL} AS quality
               FROM documents),
    r AS (SELECT doc_id, source, quality,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY quality DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM s)
    SELECT doc_id, source, quality FROM r
    WHERE rn * 1000000 <= 250000 * n
    """,
)
def sample_top_share_quality(spark, sf_dir):
    """RELATIVE quality thresholding (operators/sampling.
    top_share_per_group): keep each source's top 25% of documents by
    quality score - an absolute cutoff would gut weak sources and
    barely touch strong ones; per-group shares preserve source
    diversity while raising the floor. Deterministic: the score is the
    floor-quantized blend both engines compute bit-identically, ties
    break by doc_id, and the keep rule is pure-integer
    rn * 1e6 <= share_ppm * n_group."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id", "source", "text", TX.tokenize(F.col("text")).alias("toks")
    )
    scored = base.select(
        "doc_id",
        "source",
        TX.quality_score(F.col("text"), F.col("toks")).alias("quality"),
    )
    return SP.top_share_per_group(
        scored, "doc_id", "source", "quality", share_ppm=250_000
    )


@register(
    "text_repetition_metrics",
    f"""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS txt, {_TOKS_SQL} AS toks
      FROM documents
    ),
    lt AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(txt, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS lines
      FROM t
    ),
    big AS (
      SELECT doc_id, len(toks) AS nt,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS bigrams
      FROM t
    ),
    bg_top AS (
      SELECT doc_id, max(c) AS topc FROM (
        SELECT b.doc_id, g, count(*) AS c
        FROM big b, unnest(b.bigrams) AS u(g)
        GROUP BY b.doc_id, g)
      GROUP BY doc_id
    ),
    run_len AS (
      SELECT doc_id, max(c) AS max_run FROM (
        SELECT doc_id, tok, grp, count(*) AS c FROM (
          SELECT doc_id, tok,
                 i - row_number() OVER (PARTITION BY doc_id, tok
                                        ORDER BY i) AS grp
          FROM (SELECT t.doc_id, t.toks[u.i] AS tok, u.i
                FROM t, unnest(range(1, len(t.toks) + 1)) AS u(i)))
        GROUP BY doc_id, tok, grp)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(l.lines) AS n_lines,
           CASE WHEN len(l.lines) = 0 THEN 0.0
                ELSE floor((1 - len(list_distinct(l.lines))::DOUBLE
                            / len(l.lines)) * 10000) / 10000
           END AS dup_line_frac,
           CASE WHEN b.nt < 2 THEN 0.0
                ELSE floor(coalesce(bt.topc, 0)::DOUBLE / (b.nt - 1)
                           * 10000) / 10000
           END AS top_bigram_share,
           coalesce(r.max_run, 0) AS max_token_run
    FROM t
    JOIN lt l USING (doc_id)
    JOIN big b USING (doc_id)
    LEFT JOIN bg_top bt USING (doc_id)
    LEFT JOIN run_len r USING (doc_id)
    """,
)
def text_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition filters (operators/text.repetition_features):
    duplicate-line fraction, top-bigram share, longest same-token run.
    One narrow projection, no shuffle - the bigram mode is the longest
    equal-run of the SORTED bigram array, so no per-document groupBy.
    The oracle computes the same stats the relational way (unnest +
    window gaps-and-islands) - two algorithms, one answer."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "text",
        TX.tokenize(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    feats = TX.repetition_features(F.col("text"), toks=F.col("toks"))
    return base.select(
        "doc_id",
        feats["n_lines"].alias("n_lines"),
        quantize(feats["dup_line_frac"], 4).alias("dup_line_frac"),
        quantize(feats["top_bigram_share"], 4).alias("top_bigram_share"),
        feats["max_token_run"].alias("max_token_run"),
    )


def _gopher_filter_oracle() -> str:
    """Relational twin of text.gopher_filter: the same features via the
    repetition oracle's CTE shapes, the same FIRST-failing-rule CASE
    chain, thresholds read from the SAME dict (text.GOPHER_BOUNDS)."""
    b = TX.GOPHER_BOUNDS
    return f"""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS txt, {_TOKS_SQL} AS toks
      FROM documents
    ),
    feat AS (
      SELECT doc_id, len(toks) AS nt,
             coalesce(list_sum(list_transform(toks, tk -> length(tk))), 0)::DOUBLE
               / greatest(len(toks), 1) AS mean_len,
             length(regexp_replace(txt, '[^A-Za-z]', '', 'g'))::DOUBLE
               / greatest(length(txt), 1) AS alpha_ratio
      FROM t
    ),
    lt AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(txt, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS lines
      FROM t
    ),
    dl AS (
      SELECT doc_id,
             CASE WHEN len(lines) = 0 THEN 0.0
                  ELSE 1 - len(list_distinct(lines))::DOUBLE / len(lines)
             END AS dup_line_frac
      FROM lt
    ),
    big AS (
      SELECT doc_id, len(toks) AS nt,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS bigrams
      FROM t
    ),
    bg_top AS (
      SELECT doc_id, max(c) AS topc FROM (
        SELECT b.doc_id, g, count(*) AS c
        FROM big b, unnest(b.bigrams) AS u(g)
        GROUP BY b.doc_id, g)
      GROUP BY doc_id
    ),
    run_len AS (
      SELECT doc_id, max(c) AS max_run FROM (
        SELECT doc_id, tok, grp, count(*) AS c FROM (
          SELECT doc_id, tok,
                 i - row_number() OVER (PARTITION BY doc_id, tok
                                        ORDER BY i) AS grp
          FROM (SELECT t.doc_id, t.toks[u.i] AS tok, u.i
                FROM t, unnest(range(1, len(t.toks) + 1)) AS u(i)))
        GROUP BY doc_id, tok, grp)
      GROUP BY doc_id
    ),
    r AS (
      SELECT f.doc_id, f.nt, f.mean_len, f.alpha_ratio, d.dup_line_frac,
             CASE WHEN bg.nt < 2 THEN 0.0
                  ELSE coalesce(bt.topc, 0)::DOUBLE / (bg.nt - 1)
             END AS top_bigram_share,
             coalesce(rl.max_run, 0) AS max_token_run
      FROM feat f
      JOIN dl d USING (doc_id)
      JOIN big bg USING (doc_id)
      LEFT JOIN bg_top bt USING (doc_id)
      LEFT JOIN run_len rl USING (doc_id)
    )
    SELECT doc_id,
           (CASE WHEN reason = 'keep' THEN 1 ELSE 0 END)::BIGINT AS keep,
           reason
    FROM (
      SELECT doc_id,
             CASE WHEN nt < {int(b["min_tokens"])} THEN 'min_tokens'
                  WHEN nt > {int(b["max_tokens"])} THEN 'max_tokens'
                  WHEN mean_len < {float(b["min_mean_token_len"])} THEN 'min_mean_token_len'
                  WHEN mean_len > {float(b["max_mean_token_len"])} THEN 'max_mean_token_len'
                  WHEN alpha_ratio < {float(b["min_alpha_ratio"])} THEN 'min_alpha_ratio'
                  WHEN dup_line_frac > {float(b["max_dup_line_frac"])} THEN 'max_dup_line_frac'
                  WHEN top_bigram_share > {float(b["max_top_bigram_share"])} THEN 'max_top_bigram_share'
                  WHEN max_token_run > {int(b["max_token_run"])} THEN 'max_token_run'
                  ELSE 'keep' END AS reason
      FROM r) x
    """


@register("text_gopher_filter", _gopher_filter_oracle())
def text_gopher_filter(spark, sf_dir):
    """Composite Gopher-rules document filter (operators/text.
    gopher_filter): quality + repetition features fused into a single
    keep/drop decision with the FIRST failing rule as the reason - the
    curation pipeline's gatekeeper stage, downstream of the per-feature
    queries (text_quality_score / text_repetition_metrics). One narrow
    projection, no shuffle; every threshold comparison runs on values
    both engines compute bit-identically, so the booleans match."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "text",
        TX.tokenize(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    keep, reason = TX.gopher_filter(F.col("text"), toks=F.col("toks"))
    return base.select("doc_id", keep.alias("keep"), reason.alias("reason"))


def _quality_mix_pack_oracle(budget: int = 2000) -> str:
    """End-to-end curation: the gopher-filter CTE chain -> kept docs ->
    the exact-mixture carve -> single-window shard pack (the oracle may
    use the bare cumsum window; pack_shards' binned form equals it by
    construction - pinned by the pack property test)."""
    g = _gopher_filter_oracle()
    # reuse the filter oracle verbatim as a subquery: (doc_id, keep, reason)
    return f"""
    WITH gf AS ({g}),
    toks AS (SELECT doc_id, len({_TOKS_SQL}) AS nt FROM documents),
    kept AS (
      SELECT d.doc_id, d.lang, t.nt::DOUBLE AS wt
      FROM documents d
      JOIN gf ON gf.doc_id = d.doc_id
      JOIN toks t ON t.doc_id = d.doc_id
      WHERE gf.keep = 1
    ),
    c AS (SELECT lang, count(*) AS n FROM kept GROUP BY lang),
    tgt(lang, ppm) AS (VALUES {", ".join(f"('{gr}', {p})" for gr, p in _MIX_PPM.items())}),
    p AS (SELECT t2.lang, coalesce(c.n, 0) AS n, t2.ppm
          FROM tgt t2 LEFT JOIN c USING (lang)),
    tt AS (SELECT min(n * 1000000 // ppm) AS t FROM p),
    need AS (SELECT lang, ppm * (SELECT t FROM tt) // 1000000 AS need FROM p),
    rk AS (
      SELECT doc_id, lang, wt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_BUCKET_SQL}, doc_id) AS rn
      FROM kept
    ),
    mixed AS (SELECT rk.doc_id, rk.wt FROM rk JOIN need USING (lang)
              WHERE rk.rn <= need.need),
    packed AS (
      SELECT doc_id, wt,
             coalesce(sum(wt) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM mixed)
    SELECT CAST(floor(cum / {budget}) AS BIGINT) AS shard_id,
           count(*) AS n_docs, CAST(sum(wt) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM packed GROUP BY 1
    """


@register("pipeline_quality_mix_pack", _quality_mix_pack_oracle())
def pipeline_quality_mix_pack(spark, sf_dir):
    """The curation stack end-to-end as ONE declarative plan: Gopher
    keep/drop filter -> exact-mixture language carve -> token-budget
    shard packing. Composes gopher_filter + target_mix_sample +
    pack_shards; each stage has exact cross-engine semantics, so the
    composition does too. Shape at scale: narrow filter, broadcast
    quota join + per-group window, quantile-binned two-level cumsum -
    no stage funnels the corpus through one task."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "lang",
        "text",
        TX.tokenize(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    keep, _reason = TX.gopher_filter(F.col("text"), toks=F.col("toks"))
    flagged = base.select(
        "doc_id",
        "lang",
        F.size("toks").cast("double").alias("wt"),
        keep.alias("_keep"),
    )
    # checkpoint BEFORE the keep-filter, for two measured reasons:
    # 1. filtering first would push the predicate through the
    #    projection, inlining the `toks` alias into every feature
    #    reference - the tokenize regex re-runs ~6x per row (11s vs 3s
    #    for the identical features in text_gopher_filter, whose
    #    multi-reference projection Catalyst declines to collapse);
    # 2. the gopher folds are an enormous expression TREE that the
    #    mixture's three consumers and pack_shards' three branches
    #    would each re-embed - with persist() alone Catalyst's
    #    single-threaded analysis became the bottleneck (26s planning
    #    the pack stage over 2,810 cached rows; same pathology and
    #    same fix as the connected-components loop, dedup._checkpoint).
    kept = (
        DD._checkpoint(flagged).filter(F.col("_keep") == 1).drop("_keep")
    )
    mixed = SP.target_mix_sample(kept, "doc_id", "lang", _MIX_PPM, seed=42)
    packed = SP.pack_shards(
        mixed.select("doc_id", "wt"), "doc_id", "wt", 2_000, materialize=True
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("wt").cast("long").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "text_bpe_pair_stats",
    f"""
    WITH tok AS (
      SELECT t.w FROM
        (SELECT {_TOKS_SQL} AS toks FROM documents) d, unnest(d.toks) AS t(w)
    ),
    freq AS (SELECT w, count(*)::BIGINT AS f FROM tok GROUP BY w),
    pairs AS (
      SELECT substring(fr.w, u.i, 2) AS pair, fr.f
      FROM freq fr, unnest(range(1, length(fr.w))) AS u(i)
      WHERE length(fr.w) >= 2
    )
    SELECT pair, cast(sum(f) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 25
    """,
)
def text_bpe_pair_stats(spark, sf_dir):
    """Byte-pair statistics for tokenizer training (operators/
    text.bpe_pair_counts): the weighted adjacent-character-pair table
    one BPE merge step maximizes over. Pair enumeration runs over the
    DISTINCT vocabulary weighted by corpus frequency - the standard BPE
    trick that keeps the explode vocabulary-sized while the only
    corpus-sized shuffle is a map-side-combined word count. Integer
    counts, ordered output -> exact oracle."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return TX.bpe_pair_counts(d, "text", top_n=25)


@register(
    "corpus_vocabulary_topk",
    f"""
    WITH tok AS (
      SELECT t.term FROM
        (SELECT {_TOKS_SQL} AS toks FROM documents) d, unnest(d.toks) AS t(term)
    ),
    counts AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
    tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM counts)
    SELECT term, n,
           floor(n::DOUBLE / t.total * 1000000) / 1000000 AS share,
           t.vocab AS vocab_size
    FROM counts CROSS JOIN tot t
    ORDER BY n DESC, term LIMIT 25
    """,
)
def corpus_vocabulary_topk(spark, sf_dir):
    """Zipf head of the corpus vocabulary: top-25 tokens with corpus
    share and total vocabulary size. The canonical explode-heavy
    aggregation: (term) partials combine map-side so the shuffle is
    O(distinct terms), the share constants are a 1-row broadcast, and
    the ranking is a distributed top-k. Ordered-output oracle (ties
    broken by term)."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    counts = (
        d.select(F.explode(TX.tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "term",
            "n",
            quantize(F.col("n").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.col("vocab").alias("vocab_size"),
        )
        .orderBy(F.desc("n"), "term")
        .limit(25)
    )


#: chunk layout CTEs (40-token windows, 8 overlap) shared by the chunk
#: query and the chunk-level pipeline oracle; ends with CTE `chunks`
_CHUNK_CTES_SQL = f"""
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) = 0 THEN []
                  ELSE list_transform(
                    range(0, greatest((len(toks) - 8 + 31) // 32, 1)),
                    i -> (i * 32 + 1)::INT)
             END AS starts
      FROM t),
    x AS (
      SELECT doc_id, toks, u.i - 1 AS chunk_idx, starts[u.i] AS start
      FROM s, unnest(range(1, len(starts) + 1)) AS u(i)),
    chunks AS (
      SELECT doc_id, chunk_idx,
             len(toks[start:least(start + 39, len(toks))]) AS chunk_n_tokens,
             array_to_string(toks[start:least(start + 39, len(toks))], ' ')
               AS chunk_text
      FROM x)
"""


@register(
    "text_chunk_windows",
    f"""
    WITH {_CHUNK_CTES_SQL}
    SELECT doc_id, chunk_idx, chunk_n_tokens, chunk_text FROM chunks
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Training-sequence chunking (operators/text.chunk_token_windows):
    40-token windows with 8-token overlap; the tail window keeps its
    remainder. One projection + one posexplode, no shuffle - boundaries
    are a pure integer function of the token count, so the oracle
    replays the layout exactly."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return TX.chunk_token_windows(d, "doc_id", "text", chunk=40, overlap=8)


@register(
    "pipeline_chunk_dedup_pack",
    f"""
    WITH {_CHUNK_CTES_SQL},
    keyed AS (
      SELECT doc_id, chunk_idx, chunk_n_tokens, md5(chunk_text) AS h,
             doc_id * 1024 + chunk_idx AS ck
      FROM chunks),
    kept AS (
      SELECT doc_id, chunk_idx, chunk_n_tokens, ck FROM (
        SELECT *, row_number() OVER (PARTITION BY h
                                     ORDER BY doc_id, chunk_idx) AS rn
        FROM keyed)
      WHERE rn = 1),
    packed AS (
      SELECT ck, chunk_n_tokens,
             coalesce(sum(chunk_n_tokens) OVER (ORDER BY ck
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM kept)
    SELECT CAST(floor(cum / 2000) AS BIGINT) AS shard_id,
           count(*) AS n_chunks,
           cast(sum(chunk_n_tokens) AS BIGINT) AS shard_tokens,
           min(ck) AS first_chunk, max(ck) AS last_chunk
    FROM packed GROUP BY 1
    """,
)
def pipeline_chunk_dedup_pack(spark, sf_dir):
    """Chunk-LEVEL training-data flow as one declarative plan:
    overlapping token windows -> exact chunk dedup (first occurrence by
    (doc_id, chunk_idx) wins - boilerplate chunks shared across docs
    collapse even when the full documents differ) -> pack the surviving
    chunks into ~2000-token shards. The chunk key packs as
    doc_id*1024+chunk_idx (valid while docs stay under ~32k tokens -
    40-token windows, stride 32)."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    chunks = TX.chunk_token_windows(d, "doc_id", "text", chunk=40, overlap=8)
    keyed = chunks.select(
        "doc_id",
        "chunk_idx",
        "chunk_n_tokens",
        F.md5("chunk_text").alias("h"),
        # loud guard (round-2 ADVICE): a doc with >=1024 chunks
        # (~32,800 tokens at stride 32) would silently collide packed
        # keys across documents; raise instead. CASE branches evaluate
        # lazily per row, so compliant rows never touch raise_error.
        F.when(
            F.col("chunk_idx") < 1024,
            F.col("doc_id") * 1024 + F.col("chunk_idx"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("chunk_idx >= 1024 overflows the packed chunk "
                          "key (doc_id*1024+chunk_idx) for doc_id="),
                    F.col("doc_id").cast("string"),
                )
            ).cast("long")
        )
        .alias("ck"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    kept = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("ck", F.col("chunk_n_tokens").alias("wt"))
    )
    # materialize: `kept` is narrow (ck, wt) but its upstream is the
    # full chunk explode + dedup window - persist once, not 3x
    packed = SP.pack_shards(kept, "ck", "wt", 2000, materialize=True)
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("wt").cast("long").alias("shard_tokens"),
        F.min("ck").alias("first_chunk"),
        F.max("ck").alias("last_chunk"),
    )


def _redact_sql_expr(col: str) -> str:
    """Nested regexp_replace mirroring text.redact_pii's pattern order."""
    expr = col
    for pattern, tag in TX.PII_PATTERNS.values():
        escaped = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{escaped}', '{tag}', 'g')"
    return expr


@register(
    "text_redact_pii",
    f"""
    SELECT doc_id,
           md5({_redact_sql_expr('text')}) AS redacted_md5,
           ({_redact_sql_expr('text')} <> text) AS changed
    FROM documents
    """,
)
def text_redact_pii(spark, sf_dir):
    """Body-text PII redaction (operators/text.redact_pii): emails,
    IPv4, phone formats -> typed tags. The corpus is synthetic (no PII
    hits - `changed` is all false here); the operator semantics are
    pinned by crafted-document unit tests and the md5-of-redacted
    oracle proves the pass is a byte-level no-op where nothing
    matches."""
    d = _t(spark, sf_dir, "documents")
    red = TX.redact_pii(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(red).alias("redacted_md5"),
        (red != F.col("text")).alias("changed"),
    )


@register(
    "text_unigram_logprob",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tf AS (
      SELECT b.doc_id, t.term, count(*) AS tf
      FROM base b, unnest(b.toks) AS t(term)
      GROUP BY b.doc_id, t.term),
    vocab AS (SELECT term, sum(tf) AS n FROM tf GROUP BY term),
    consts AS (SELECT sum(n) AS total, count(*) AS vocab FROM vocab),
    contrib AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ln((v.n + 1.0) / (c.total + c.vocab)) AS contrib
      FROM tf JOIN vocab v USING (term) CROSS JOIN consts c)
    SELECT doc_id, cast(sum(tf) AS BIGINT) AS n_tokens,
           floor(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
                 / sum(tf) * 10000) / 10000 AS avg_logprob
    FROM contrib GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality signal (operators/search.unigram_logprob):
    average token log-probability under the corpus's own smoothed
    unigram model. Term-sorted fold keeps the float sum
    bit-reproducible across engines."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return SR.unigram_logprob(d, "doc_id", "text")


@register(
    "text_perplexity_buckets",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tf AS (
      SELECT b.doc_id, t.term, count(*) AS tf
      FROM base b, unnest(b.toks) AS t(term)
      GROUP BY b.doc_id, t.term),
    vocab AS (SELECT term, sum(tf) AS n FROM tf GROUP BY term),
    consts AS (SELECT sum(n) AS total, count(*) AS vocab FROM vocab),
    contrib AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ln((v.n + 1.0) / (c.total + c.vocab)) AS contrib
      FROM tf JOIN vocab v USING (term) CROSS JOIN consts c),
    lp AS (
      SELECT doc_id, cast(sum(tf) AS BIGINT) AS n_tokens,
             floor(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
                   / sum(tf) * 10000) / 10000 AS avg_logprob
      FROM contrib GROUP BY doc_id),
    lpi AS (SELECT doc_id, n_tokens, avg_logprob,
                   cast(round(avg_logprob * 10000) AS BIGINT) AS v
            FROM lp),
    hist AS (SELECT v, count(*) AS c FROM lpi GROUP BY v),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist),
    nn AS (SELECT count(*) AS n FROM lpi),
    bounds AS (
      SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS b1,
             min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS b2
      FROM cum CROSS JOIN nn)
    SELECT doc_id, n_tokens, avg_logprob,
           CASE WHEN v <= (SELECT b1 FROM bounds) THEN 'tail'
                WHEN v <= (SELECT b2 FROM bounds) THEN 'middle'
                ELSE 'head' END AS bucket
    FROM lpi
    """,
)
def text_perplexity_buckets(spark, sf_dir):
    """CCNet perplexity tiering (operators/search.perplexity_buckets,
    Wenzek et al. 2020): head/middle/tail thirds of the corpus by its
    own unigram-LM score, with DISCRETE integer-arithmetic boundaries
    (no percentile interpolation - the split replays exactly on any
    engine). The histogram the boundaries come from is bounded by the
    distinct 4dp score values, not the corpus."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return SR.perplexity_buckets(d, "doc_id", "text")


_BM25_TERMS = ("join", "spark", "window")


@register(
    "search_bm25_topk",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    lens AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (
      SELECT b.doc_id, t.term, count(*) AS tf
      FROM base b, unnest(b.toks) AS t(term)
      WHERE t.term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
      GROUP BY b.doc_id, t.term),
    consts AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf::DOUBLE
                  + 1.2 * (0.25 + 0.75 * l.dl
                           / (c.total_dl::DOUBLE / c.n_docs))) AS contrib
      FROM tf
      JOIN dfreq d USING (term)
      CROSS JOIN consts c
      JOIN lens l ON l.doc_id = tf.doc_id),
    agg AS (
      SELECT doc_id, count(*) AS n_terms_matched,
             floor(list_reduce(list(contrib ORDER BY term),
                               (a, b) -> a + b) * 10000) / 10000 AS score
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, n_terms_matched, score
    FROM agg ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_bm25_topk(spark, sf_dir):
    """Lexical retrieval (operators/search.bm25_topk): BM25 top-10 for a
    3-term query. The per-term contributions fold in TERM-SORTED order
    on both engines, so the float score is bit-reproducible and the
    ranking key is the quantized score - ln()'s last-ulp libm wobble
    can't flip an ordering."""
    d = _t(spark, sf_dir, "documents")
    return SR.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS), top_k=10)


@register(
    "search_bm25_incremental",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    lens AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (
      SELECT b.doc_id, t.term, count(*) AS tf
      FROM base b, unnest(b.toks) AS t(term)
      WHERE t.term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
      GROUP BY b.doc_id, t.term),
    consts AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf::DOUBLE
                  + 1.2 * (0.25 + 0.75 * l.dl
                           / (c.total_dl::DOUBLE / c.n_docs))) AS contrib
      FROM tf
      JOIN dfreq d USING (term)
      CROSS JOIN consts c
      JOIN lens l ON l.doc_id = tf.doc_id),
    agg AS (
      SELECT doc_id, count(*) AS n_terms_matched,
             floor(list_reduce(list(contrib ORDER BY term),
                               (a, b) -> a + b) * 10000) / 10000 AS score
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, n_terms_matched, score
    FROM agg ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_bm25_incremental(spark, sf_dir):
    """Round-12: lexical retrieval against a PERSISTED, incrementally
    maintained index (operators/search.bm25_index + bm25_topk_index) -
    the search twin of the dedup standing stores. documents split at
    the 80% id threshold; the corpus's inverted index (term, doc_id,
    tf) and length table (doc_id, dl) are written to parquet
    (postings repartitioned+sorted by term so the query-term predicate
    prunes at the scan), the batch's index rows are APPENDED (each
    document contributes exactly once, and every BM25 statistic - df,
    n_docs, avgdl - derives from the stored rows, so the append IS the
    maintenance; no fold, no corpus re-tokenization), and the query
    runs entirely off the read-back stores. The oracle is the plain
    global BM25 over all documents - the identity the persisted-index
    path claims, bit-exact because both paths share one scoring tail
    with a term-sorted contribution fold."""
    import os
    import re

    d = fan_out(_t(spark, sf_dir, "documents"))
    cut = (d.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    corpus = d.filter(F.col("doc_id") * 5 < 4 * cut)
    batch = d.filter(F.col("doc_id") * 5 >= 4 * cut)
    global _BM25IDX_STAGED
    try:
        _BM25IDX_STAGED
    except NameError:
        _BM25IDX_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"bm25idx_{tag}")
    ppath = os.path.join(root, "postings")
    spath = os.path.join(root, "doc_stats")
    if sf_dir not in _BM25IDX_STAGED:
        # day 0: the corpus index; day 1: the batch's rows appended -
        # staged once per sf (an append re-run would double the index)
        for mode, split in (("overwrite", corpus), ("append", batch)):
            p, s = SR.bm25_index(split, "doc_id", "text")
            p.repartition(8, "term").sortWithinPartitions(
                "term"
            ).write.mode(mode).parquet(ppath)
            s.write.mode(mode).parquet(spath)
        _BM25IDX_STAGED.add(sf_dir)
    return SR.bm25_topk_index(
        spark.read.parquet(ppath),
        spark.read.parquet(spath),
        list(_BM25_TERMS),
        top_k=10,
    )


#: per-invocation sequence for the streaming-BM25 query's fresh roots
_SBM25_SEQ = _itertools.count()


@register(
    "stream_bm25_maintenance",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    lens AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (
      SELECT b.doc_id, t.term, count(*) AS tf
      FROM base b, unnest(b.toks) AS t(term)
      WHERE t.term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
      GROUP BY b.doc_id, t.term),
    consts AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf::DOUBLE
                  + 1.2 * (0.25 + 0.75 * l.dl
                           / (c.total_dl::DOUBLE / c.n_docs))) AS contrib
      FROM tf
      JOIN dfreq d USING (term)
      CROSS JOIN consts c
      JOIN lens l ON l.doc_id = tf.doc_id),
    agg AS (
      SELECT doc_id, count(*) AS n_terms_matched,
             floor(list_reduce(list(contrib ORDER BY term),
                               (a, b) -> a + b) * 10000) / 10000 AS score
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, n_terms_matched, score
    FROM agg ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def stream_bm25_maintenance(spark, sf_dir):
    """Round-13 (VERDICT r12 #6): STREAMING BM25 index maintenance
    (streaming/ingest.stream_bm25_maintenance) - the foreachBatch arm
    of search.bm25_index, completing the lexical-search lifecycle
    (batch -> incremental -> streaming) the way round 12 completed the
    semantic screen's. documents split corpus / day1 / day2 at the
    80%/90% id thresholds; the corpus index bootstraps the base
    frames, and the two days arrive as two REAL sequential
    availableNow runs (restart-driven, deterministic order), each
    trigger tokenizing ONLY its batch and delta-appending its
    postings/lengths (one shared manifest names both families' read
    set; tail compaction) - the index is append-only, so a trigger IS
    one append: no screen, no fold, no re-tokenization. Serving reads
    base + manifest deltas into search.bm25_topk_index; the shared
    scoring tail makes the post-stream top-k bit-identical to the
    batch BM25 over ALL documents - the oracle."""
    import os
    import re
    import shutil

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        bm25_store_frames,
        stream_bm25_maintenance as _sbm,
    )

    d = fan_out(_t(spark, sf_dir, "documents"))
    cut = (d.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
    d10 = F.col("doc_id") * 10
    corpus = d.filter(d10 < 8 * cut)
    days = (
        d.filter((d10 >= 8 * cut) & (d10 < 9 * cut)),
        d.filter(d10 >= 9 * cut),
    )
    global _SBM25_STAGED
    try:
        _SBM25_STAGED
    except NameError:
        _SBM25_STAGED = set()
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    sroot = _run_tmp(f"sbm25_{tag}")
    ppath = os.path.join(sroot, "postings")
    lpath = os.path.join(sroot, "lengths")
    if sf_dir not in _SBM25_STAGED:
        p, s = SR.bm25_index(corpus, "doc_id", "text")
        p.repartition(8, "term").sortWithinPartitions("term").write.mode(
            "overwrite"
        ).parquet(ppath)
        s.write.mode("overwrite").parquet(lpath)
        for i, day in enumerate(days):
            day.select("doc_id", "text").coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(sroot, f"day{i}"))
        _SBM25_STAGED.add(sf_dir)

    def _day_file(i: int) -> str:
        dd = os.path.join(sroot, f"day{i}")
        return os.path.join(
            dd, next(f for f in os.listdir(dd) if f.endswith(".parquet"))
        )

    seq = next(_SBM25_SEQ)
    root = _run_tmp(f"sbm25_{tag}_{seq}")
    sdir = os.path.join(root, "in")
    os.makedirs(sdir, exist_ok=True)
    store_root = os.path.join(root, "store")
    ck = os.path.join(root, "ck")
    for i in range(2):
        try:
            os.link(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        except OSError:
            shutil.copy(_day_file(i), os.path.join(sdir, f"day{i}.parquet"))
        _sbm(
            spark.readStream.schema("doc_id bigint, text string").parquet(
                sdir
            ),
            store_root, ck,
        ).awaitTermination()
    postings, lengths = bm25_store_frames(
        spark, store_root,
        base_postings=spark.read.parquet(ppath),
        base_lengths=spark.read.parquet(lpath),
    )
    return SR.bm25_topk_index(
        postings, lengths, list(_BM25_TERMS), top_k=10
    )


@register(
    "search_tfidf_cosine",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tf AS (
      SELECT b.doc_id, t.term, count(*)::BIGINT AS tf
      FROM base b, unnest(b.toks) AS t(term)
      GROUP BY b.doc_id, t.term),
    consts AS (SELECT count(*) AS n_docs FROM base),
    idf AS (
      SELECT term,
             floor((ln((c.n_docs + 1.0) / (count(*) + 1.0)) + 1.0) * 1000000)
               / 1000000 AS idf
      FROM tf CROSS JOIN consts c
      GROUP BY term, c.n_docs),
    w AS (
      SELECT tf.doc_id, tf.term, tf.tf * i.idf AS w, i.idf
      FROM tf JOIN idf i USING (term)),
    norms AS (
      SELECT doc_id,
             sqrt(list_reduce(list_prepend(0.0, list(w * w ORDER BY term)),
                              (a, b) -> a + b)) AS norm_d
      FROM w GROUP BY doc_id),
    nq AS (
      SELECT sqrt(list_reduce(list_prepend(0.0, list(idf * idf ORDER BY term)),
                              (a, b) -> a + b)) AS norm_q
      FROM idf WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})),
    dots AS (
      SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
             list_reduce(list_prepend(0.0, list(w * idf ORDER BY term)),
                         (a, b) -> a + b) AS dot
      FROM w
      WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
      GROUP BY doc_id)
    SELECT d.doc_id, d.n_terms_matched,
           floor(d.dot / (n.norm_d * q.norm_q) * 10000) / 10000 AS score
    FROM dots d JOIN norms n USING (doc_id) CROSS JOIN nq q
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_tfidf_cosine(spark, sf_dir):
    """Vector-space retrieval (operators/search.tfidf_cosine_topk):
    TF-IDF cosine top-10 for the same 3-term query bm25 uses. idf is
    floor-quantized at the source so ln() wobble never enters the
    arithmetic; norms and dots fold term-sorted, so the score matches
    the oracle bit-for-bit before the final quantize. fan_out matches
    the unigram/bigram queries' input plan exactly, so all three
    substitute ONE cached (doc, term) tf frame."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return SR.tfidf_cosine_topk(
        d, "doc_id", "text", list(_BM25_TERMS), top_k=10
    )


def _hybrid_rrf_oracle(
    depth: int = 50, rrf_k: float = 60.0, top_k: int = 10
) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    lens AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (
      SELECT b.doc_id, t.term, count(*) AS tf
      FROM base b, unnest(b.toks) AS t(term)
      WHERE t.term IN ({terms})
      GROUP BY b.doc_id, t.term),
    consts AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf::DOUBLE
                  + 1.2 * (0.25 + 0.75 * l.dl
                           / (c.total_dl::DOUBLE / c.n_docs))) AS contrib
      FROM tf
      JOIN dfreq d USING (term)
      CROSS JOIN consts c
      JOIN lens l ON l.doc_id = tf.doc_id),
    bm AS (
      SELECT doc_id,
             floor(list_reduce(list(contrib ORDER BY term),
                               (a, b) -> a + b) * 10000) / 10000 AS score
      FROM contrib GROUP BY doc_id),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM bm ORDER BY score DESC, doc_id LIMIT {depth}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
                 sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x*x))) AS nrm
          FROM embeddings),
    dnr AS (
      SELECT neighbor_id AS doc_id, rank AS rnk FROM (
        SELECT c.vec_id AS neighbor_id,
               row_number() OVER (
                 ORDER BY floor(list_dot_product(q.vec, c.vec)
                                / (q.nrm * c.nrm) * 1000000) / 1000000
                            DESC,
                          c.vec_id ASC) AS rank
        FROM v q, v c
        WHERE q.vec_id = 0 AND c.vec_id <> 0) t
      WHERE rank <= {depth}),
    u AS (
      SELECT doc_id, 0 AS li, rnk FROM bmr
      UNION ALL
      SELECT doc_id, 1 AS li, rnk FROM dnr),
    f AS (
      SELECT doc_id, count(*)::BIGINT AS n_lists,
             floor(list_reduce(
               list_prepend(0.0,
                 list(1.0::DOUBLE / ({rrf_k}::DOUBLE + rnk) ORDER BY li)),
               (a, b) -> a + b) * 1000000) / 1000000 AS rrf_score
      FROM u GROUP BY doc_id)
    SELECT doc_id, n_lists, rrf_score
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT {top_k}
    """


@register("search_hybrid_rrf", _hybrid_rrf_oracle())
def search_hybrid_rrf(spark, sf_dir):
    """Round-11: HYBRID retrieval - BM25 lexical top-50 fused with
    dense cosine top-50 by reciprocal-rank fusion
    (operators/search.hybrid_rrf_topk, Cormack et al. 2009;
    rrf = sum 1/(60 + rank)). The production lexical+vector combiner:
    rank-based fusion needs no score calibration between modalities.
    The dense list ranks the corpus against doc 0's embedding
    (vec_id == doc_id by construction); docs retrieved by BOTH lists
    outrank single-list hits. Each list's ranks are deterministic
    (quantized score desc, id), contributions fold in list-index
    order, and the fused score quantizes before the final rank - the
    full bit-reproducibility discipline of the underlying retrievers,
    carried through the fusion."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    e = _t(spark, sf_dir, "embeddings")
    bm = SR.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS), top_k=50)
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rank"),
    )
    dense = SIM.cosine_topk(
        e, e.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=50
    )
    dnr = dense.select(F.col("neighbor_id").alias("doc_id"), "rank")
    return SR.hybrid_rrf_topk([bmr, dnr], k=60.0, top_k=10)


@register(
    "text_bigram_logprob",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    bg AS (
      SELECT b.doc_id, b.toks[i.i] AS w1, b.toks[i.i + 1] AS w2
      FROM base b, unnest(range(1, greatest(len(b.toks) - 1, 0) + 1)) AS i(i)),
    tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY doc_id, w1, w2),
    big AS (SELECT w1, w2, sum(tf) AS cvw FROM tf GROUP BY w1, w2),
    lft AS (SELECT w1, sum(cvw) AS cv FROM big GROUP BY w1),
    vocab AS (
      SELECT t.term, count(*) AS n
      FROM base b, unnest(b.toks) AS t(term) GROUP BY t.term),
    consts AS (SELECT sum(n) AS total, count(*) AS vocab FROM vocab),
    contrib AS (
      SELECT tf.doc_id, tf.w1, tf.w2, tf.tf,
             tf.tf * (floor(ln(
                 0.9 * (cast(g.cvw AS DOUBLE) / cast(l.cv AS DOUBLE))
                 + (1.0 - 0.9) * ((v.n + 1.0) / (c.total + c.vocab))
               ) * 1000000) / 1000000) AS contrib
      FROM tf JOIN big g USING (w1, w2) JOIN lft l USING (w1)
           JOIN vocab v ON v.term = tf.w2 CROSS JOIN consts c)
    SELECT doc_id, cast(sum(tf) AS BIGINT) AS n_bigrams,
           floor(list_reduce(list(contrib ORDER BY w1, w2), (a, b) -> a + b)
                 / sum(tf) * 10000) / 10000 AS avg_logprob
    FROM contrib GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM fluency signal
    (operators/search.bigram_logprob): avg log p(w2|w1) under the
    corpus's own 0.9-interpolated bigram model with add-one unigram
    fallback - the word-ORDER-sensitive step up from
    text_unigram_logprob. ln() floor-quantized at the source, bigram-
    sorted per-doc fold (the tfidf exactness recipe)."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return SR.bigram_logprob(d, "doc_id", "text")


_DSIR_BUCKETS = 256


@register(
    "sample_dsir_select",
    f"""
    WITH base AS (
      SELECT doc_id,
             coalesce(lang = 'en', false) AS is_target,
             list_transform({_TOKS_SQL},
               t -> cast(('0x' || substr(md5('s1:' || t), 1, 15)) AS BIGINT)
                    % {_DSIR_BUCKETS}) AS bks
      FROM documents),
    tf AS (
      SELECT doc_id, is_target, t.b AS b, count(*) AS tf
      FROM base, unnest(base.bks) AS t(b)
      GROUP BY doc_id, is_target, t.b),
    counts AS (
      SELECT b, sum(tf) AS cr,
             sum(CASE WHEN is_target THEN tf ELSE 0 END) AS ct
      FROM tf GROUP BY b),
    consts AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts),
    model AS (
      SELECT b,
        (floor(ln((ct + 1.0) / (tt + {_DSIR_BUCKETS}.0)) * 1000000) / 1000000)
        - (floor(ln((cr + 1.0) / (tr + {_DSIR_BUCKETS}.0)) * 1000000) / 1000000)
        AS r
      FROM counts CROSS JOIN consts),
    scored AS (
      SELECT tf.doc_id, cast(sum(tf.tf) AS BIGINT) AS n_tokens,
             floor(list_reduce(list(tf.tf * m.r ORDER BY tf.b),
                               (a, b) -> a + b) * 10000) / 10000 AS log_weight
      FROM tf JOIN model m USING (b) GROUP BY tf.doc_id)
    SELECT doc_id, n_tokens, log_weight,
           row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rank
    FROM scored ORDER BY log_weight DESC, doc_id LIMIT 200
    """,
)
def sample_dsir_select(spark, sf_dir):
    """DSIR data selection (operators/sampling.dsir_select, Xie et al.
    2023): hashed-unigram importance weights ln p_target/p_raw with the
    'en' slice as the in-domain target; top-200 by (weight desc, id).
    Both feature models train in one (doc, bucket) tf pass; the bucket
    model is a broadcast join; the result is a TakeOrdered top-n."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return SP.dsir_select(
        d, "doc_id", "text", F.col("lang") == "en", n=200,
        num_buckets=_DSIR_BUCKETS, seed=1,
    )


def _bpe_vocab_cte(num_merges: int) -> str:
    """Shared unrolled-CTE prefix for the BPE oracles: word frequencies
    and v0..v{num_merges} vocab stages. Each merge round k computes its
    pair table, picks the best pair b{{k}} with a scalar subquery
    ((count desc, w1, w2) - the trainer's exact tiebreak), and applies
    it with the same double-space literal replace; the CASE guard makes
    a dried-up round a no-op, mirroring the trainer's early stop."""
    # every CTE is MATERIALIZED and referenced once (the best-pair rides
    # a LEFT JOIN ON TRUE): without this, inlining duplicates each
    # stage's lineage per reference and the plan grows exponentially in
    # num_merges (observed: "too many open files" from ~4^8 base scans)
    stages = []
    for k in range(num_merges):
        stages.append(f"""
    b{k} AS MATERIALIZED (
      SELECT s.syms[i.i] AS w1, s.syms[i.i + 1] AS w2, sum(s.f) AS n
      FROM (SELECT f, string_split(trim(repr), '  ') AS syms FROM v{k}) s,
           unnest(range(1, greatest(len(s.syms) - 1, 0) + 1)) AS i(i)
      GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 1),
    v{k + 1} AS MATERIALIZED (
      SELECT v.w, v.f,
             CASE WHEN b.w1 IS NULL THEN v.repr
                  ELSE replace(v.repr,
                               ' ' || b.w1 || '  ' || b.w2 || ' ',
                               ' ' || b.w1 || b.w2 || ' ')
             END AS repr
      FROM v{k} v LEFT JOIN b{k} b ON TRUE)""")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    words AS (
      SELECT t.term AS w, count(*) AS f
      FROM base b, unnest(b.toks) AS t(term) GROUP BY t.term),
    v0 AS MATERIALIZED (
      SELECT w, f,
             ' ' || array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> substr(w, i, 1)), '  ') || ' ' AS repr
      FROM words),{",".join(stages)}"""


def _bpe_oracle(num_merges: int = 8) -> str:
    """Unrolled-CTE oracle for the BPE trainer+encoder (see
    _bpe_vocab_cte for the shared training stages)."""
    return f"""{_bpe_vocab_cte(num_merges)},
    enc AS (
      SELECT w, len(string_split(trim(repr), '  ')) AS n_sym
      FROM v{num_merges}),
    doc_words AS (
      SELECT b.doc_id, t.term AS w
      FROM base b, unnest(b.toks) AS t(term))
    SELECT d.doc_id, count(*) AS n_tokens,
           cast(sum(e.n_sym) AS BIGINT) AS n_symbols,
           floor(sum(e.n_sym) / count(*) * 10000) / 10000
             AS avg_symbols_per_token
    FROM doc_words d JOIN enc e USING (w)
    GROUP BY d.doc_id
    """


def _bpe_ids_cte(num_merges: int) -> str:
    """Shared CTE chain through ``ids`` (doc_id, pos, spos, sym_id):
    training stages + lexicographic symbol-id table + per-document
    positional symbol assembly. _bpe_ids_oracle and
    _tokenize_pack_oracle both build on it."""
    n = num_merges
    return f"""{_bpe_vocab_cte(n)},
    wsyms AS (SELECT w, string_split(trim(repr), '  ') AS syms FROM v{n}),
    symtab AS (
      SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS sym_id
      FROM (SELECT DISTINCT unnest(string_split(trim(repr), '  ')) AS sym
            FROM v{n})),
    docw AS (
      SELECT u.doc_id, u.p.pos AS pos, u.p.term AS w
      FROM (SELECT doc_id,
                   unnest(list_transform(toks,
                     (t, i) -> struct_pack(pos := i, term := t))) AS p
            FROM base) u),
    docsym AS (
      SELECT x.doc_id, x.pos, x.p.spos AS spos, x.p.sym AS sym
      FROM (SELECT d.doc_id, d.pos,
                   unnest(list_transform(ws.syms,
                     (t, i) -> struct_pack(spos := i, sym := t))) AS p
            FROM docw d JOIN wsyms ws USING (w)) x),
    ids AS (
      SELECT ds.doc_id, ds.pos, ds.spos, st.sym_id
      FROM docsym ds JOIN symtab st USING (sym))"""


def _bpe_ids_oracle(num_merges: int = 8) -> str:
    """Unrolled-CTE oracle for the BPE id-sequence encoder (see
    _bpe_ids_cte)."""
    return f"""{_bpe_ids_cte(num_merges)}
    SELECT doc_id, count(*) AS n_ids,
           array_to_string(
             list(cast(sym_id AS VARCHAR) ORDER BY pos, spos), ',')
             AS ids_csv
    FROM ids GROUP BY doc_id
    """


@register("text_bpe_encode", _bpe_oracle(8))
def text_bpe_encode(spark, sf_dir):
    """Full BPE tokenizer training + encoding cost
    (operators/text.bpe_train_merges / bpe_encode_stats): 8 greedy
    merge rounds over the frequency-weighted vocabulary, then per-doc
    (n_tokens, n_symbols, avg_symbols_per_token). Driver-strategy
    trainer (VERDICT r4 #1): ONE distributed action - the map-side
    combinable word count, collected as the bounded vocabulary - then
    the exact in-memory Sennrich loop; actions are O(1) in the merge
    count, so a production 32k-merge table costs the same job count as
    num_merges=8. The corpus is scanned once for the word count and
    once for the distributed encode join."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return TX.bpe_encode_stats(
        d, "doc_id", "text", num_merges=8, use_cache=True
    )


@register(
    "corpus_fertility_by_lang",
    f"""{_bpe_vocab_cte(8)},
    enc AS (
      SELECT w, len(string_split(trim(repr), '  ')) AS n_sym
      FROM v8),
    doc_words AS (
      SELECT b.doc_id, t.term AS w
      FROM base b, unnest(b.toks) AS t(term)),
    per_doc AS (
      SELECT d.doc_id, count(*) AS n_tokens, sum(e.n_sym) AS n_symbols
      FROM doc_words d JOIN enc e USING (w) GROUP BY d.doc_id)
    SELECT doc.lang, count(*) AS n_docs,
           cast(sum(p.n_tokens) AS BIGINT) AS n_tokens,
           cast(sum(p.n_symbols) AS BIGINT) AS n_symbols,
           floor(sum(p.n_symbols)::DOUBLE / sum(p.n_tokens) * 10000)
             / 10000 AS fertility
    FROM per_doc p JOIN documents doc USING (doc_id)
    WHERE doc.lang IS NOT NULL
    GROUP BY doc.lang
    """,
)
def corpus_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility report by language: symbols-per-token of the
    corpus-trained BPE model aggregated per language - the standard
    tokenizer-fairness diagnostic (a language with high fertility pays
    more compute per word). Trains on the FULL corpus (including
    NULL-lang docs), reports over labeled docs only; integer sums are
    exact so the single quantized division replays on any engine."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    stats = TX.bpe_encode_stats(
        d, "doc_id", "text", num_merges=8, use_cache=True
    )
    labeled = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    ).filter(F.col("lang").isNotNull())
    return stats.join(labeled, "doc_id").groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_symbols").alias("n_symbols"),
        quantize(
            F.sum("n_symbols").cast("double") / F.sum("n_tokens"), 4
        ).alias("fertility"),
    )


@register("text_bpe_encode_ids", _bpe_ids_oracle(8))
def text_bpe_encode_ids(spark, sf_dir):
    """The actual tokenization step (operators/text.bpe_encode_ids):
    train the 8-merge BPE model and emit every document's symbol-ID
    SEQUENCE in document order (train -> encode ids -> pack is the
    full tokenizer path; text_bpe_encode reports the cost statistics,
    this emits the ids a shard would store). Driver-strategy trainer:
    O(1) actions in the merge count; the symbol-id table broadcasts;
    per-doc assembly is an array_sort over (pos, spos) structs."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    return TX.bpe_encode_ids(
        d, "doc_id", "text", num_merges=8, use_cache=True
    )


def _tokenize_pack_oracle(num_merges: int = 8, budget: int = 400) -> str:
    """Composed tokenizer-path oracle: the BPE id-sequence stages
    (through the ``ids`` CTE of _bpe_ids_cte), then shard packing by
    per-doc token count - the pack_token_shards running-window form
    over n_ids instead of chars."""
    return f"""{_bpe_ids_cte(num_merges)},
    doc_n AS (SELECT doc_id, count(*) AS n_ids FROM ids GROUP BY doc_id),
    packed AS (
      SELECT doc_id, n_ids,
             coalesce(sum(n_ids::DOUBLE) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM doc_n)
    SELECT CAST(floor(cum / {budget}) AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           cast(sum(n_ids) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM packed GROUP BY 1
    """


def _pack_store_oracle(num_merges: int = 8, budget: int = 400) -> str:
    """Shard-store round-trip oracle: the BPE id stages, per-doc token
    counts AND id-value sums, the pack running window, then per-shard
    totals - everything the binary store must preserve."""
    return f"""{_bpe_ids_cte(num_merges)},
    doc_n AS (SELECT doc_id, count(*) AS n_ids,
                     sum(sym_id) AS sum_ids
              FROM ids GROUP BY doc_id),
    packed AS (
      SELECT doc_id, n_ids, sum_ids,
             coalesce(sum(n_ids::DOUBLE) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM doc_n)
    SELECT CAST(floor(cum / {budget}) AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           cast(sum(n_ids) AS BIGINT) AS n_tokens,
           cast(sum(sum_ids) AS BIGINT) AS sum_ids
    FROM packed GROUP BY 1
    """


@register("pack_store_roundtrip", _pack_store_oracle(8, 4000))
def pack_store_roundtrip(spark, sf_dir):
    """The tokenizer path LANDED AND RE-READ: BPE-encode the corpus to
    id sequences, pack them into ~400-token binary shard files
    (sources/tokshard.write_token_shards - executor-side IO, the
    length-prefixed u32 format a training data loader memory-maps),
    then read the store back through the ``tokshard`` Spark 4 Python
    DataSource (one InputPartition per shard file) and report
    per-shard totals including the id-value checksum. The oracle
    recomputes everything from the documents table - bytes that
    survive this round trip are bytes a trainer can consume."""
    import os

    from ghcrawler_datalake_etl_spark.sources.tokshard import (
        read_token_shards,
        write_token_shards,
    )

    import re

    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"tokstore_{tag}")
    d = fan_out(_t(spark, sf_dir, "documents"))
    ids = TX.bpe_encode_ids(
        d, "doc_id", "text", num_merges=8, use_cache=True
    )
    # the store is rewritten each invocation (cheap at gate scale;
    # determinism makes it byte-stable anyway)
    for f in os.listdir(root):
        os.unlink(os.path.join(root, f))
    write_token_shards(ids, root, budget=4000).collect()
    back = read_token_shards(spark, root)
    return back.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ids").cast("long").alias("n_tokens"),
        F.sum(
            F.aggregate(
                F.col("ids"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).cast("long").alias("sum_ids"),
    )


def _pack_store_delta_oracle(num_merges: int = 8, budget: int = 4000) -> str:
    """Delta-append oracle: base corpus (doc_id%3 != 0) packs from
    shard 0; the delta (doc_id%3 == 0) packs independently and lands
    AFTER the base store's numbering (shard_base = max base shard + 1)
    - the append contract, recomputed entirely from the documents
    table."""
    return f"""{_bpe_ids_cte(num_merges)},
    doc_n AS (SELECT doc_id, count(*) AS n_ids,
                     sum(sym_id) AS sum_ids
              FROM ids GROUP BY doc_id),
    base_p AS (
      SELECT doc_id, n_ids, sum_ids,
             coalesce(sum(n_ids::DOUBLE) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM doc_n WHERE doc_id % 3 <> 0),
    base_s AS (SELECT CAST(floor(cum / {budget}) AS BIGINT) AS shard_id,
                      n_ids, sum_ids
               FROM base_p),
    delta_p AS (
      SELECT doc_id, n_ids, sum_ids,
             coalesce(sum(n_ids::DOUBLE) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM doc_n WHERE doc_id % 3 = 0),
    delta_s AS (SELECT CAST(floor(cum / {budget}) AS BIGINT)
                         + (SELECT max(shard_id) + 1 FROM base_s)
                         AS shard_id,
                       n_ids, sum_ids
                FROM delta_p),
    allshards AS (SELECT * FROM base_s UNION ALL SELECT * FROM delta_s)
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_ids) AS BIGINT) AS n_tokens,
           CAST(sum(sum_ids) AS BIGINT) AS sum_ids
    FROM allshards GROUP BY 1
    """


@register("pack_store_delta_append", _pack_store_delta_oracle(8, 4000))
def pack_store_delta_append(spark, sf_dir):
    """The incremental "daily tokenization" path (VERDICT r8 #8): land
    the base corpus (doc_id%3 != 0) as a token-shard store, then
    DELTA-APPEND the remaining documents through
    sources/tokshard.append_token_shards - new shard files only,
    numbered after the store's maximum; not one existing shard is
    read or rewritten (apply_changes closed the parquet CDC loop in
    round 8, this closes the binary-store one). Both waves encode with
    the SAME BPE model (trained once on the full corpus - the
    production contract: the tokenizer does not drift between days).
    The store is then re-read through the tokshard DataSource and
    summarized per shard; the oracle recomputes both packings and the
    append numbering from the documents table alone."""
    import os

    from ghcrawler_datalake_etl_spark.sources.tokshard import (
        append_token_shards,
        read_token_shards,
        write_store_manifest,
        write_token_shards,
    )

    import re

    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"tokstore_delta_{tag}")
    d = fan_out(_t(spark, sf_dir, "documents"))
    ids = TX.bpe_encode_ids(
        d, "doc_id", "text", num_merges=8, use_cache=True
    )
    for f in os.listdir(root):
        os.unlink(os.path.join(root, f))
    write_token_shards(
        ids.where(F.col("doc_id") % 3 != 0), root, budget=4000
    ).collect()
    # refresh the sidecar so the append numbers its files from the
    # manifest (the O(1) object-store path), not a directory listing
    write_store_manifest(root)
    append_token_shards(
        ids.where(F.col("doc_id") % 3 == 0), root, budget=4000
    ).collect()
    write_store_manifest(root)
    back = read_token_shards(spark, root)
    return back.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ids").cast("long").alias("n_tokens"),
        F.sum(
            F.aggregate(
                F.col("ids"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).cast("long").alias("sum_ids"),
    )


@register("pipeline_tokenize_pack", _tokenize_pack_oracle(8, 400))
def pipeline_tokenize_pack(spark, sf_dir):
    """The full tokenizer path composed end to end: train the BPE
    model, encode every document to its id sequence
    (operators/text.bpe_encode_ids), pack documents into ~400-token
    training shards by key order (operators/sampling.pack_shards), and
    report per-shard stats. The composition the extension layer exists
    for: train -> encode -> pack as one declarative plan."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    ids = TX.bpe_encode_ids(
        d, "doc_id", "text", num_merges=8, use_cache=True
    )
    w = ids.select("doc_id", F.col("n_ids").cast("double").alias("wt"))
    packed = SP.pack_shards(w, "doc_id", "wt", 400)
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("wt").cast("long").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _pipeline_oracle() -> str:
    """Composed training-data pipeline oracle: tokens/hash computed once
    in a CTE, then lang-ID + quality + exact-dedup + filters."""
    langs = sorted(TX.LANG_LEXICONS)
    hit_cols = ", ".join(
        "len(list_intersect(dt, ["
        + ", ".join(f"'{w}'" for w in TX.LANG_LEXICONS[lang])
        + f"])) AS h_{lang}"
        for lang in langs
    )
    great = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    lang_case = "CASE WHEN " + great + " = 0 THEN 'und' "
    for lang in langs:
        lang_case += f"WHEN h_{lang} = {great} THEN '{lang}' "
    lang_case += "END"
    en = ", ".join(f"'{w}'" for w in TX.LANG_LEXICONS["en"])
    quality = f"""
      CASE WHEN coalesce(length(text), 0) = 0 THEN 0.0 ELSE
        floor((
          0.35 * least(len(toks)::DOUBLE / 200.0, 1.0)
        + 0.30 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE /
                  greatest(length(text), 1))
        + 0.20 * least((len(list_intersect(dt, [{en}]))::DOUBLE /
                  greatest(len(toks), 1)) * 4.0, 1.0)
        + 0.15 * (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE /
                  greatest(length(text), 1)) * 5.0, 1.0))) * 10000) / 10000
      END"""
    return f"""
    WITH base AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
             list_distinct({_TOKS_SQL}) AS dt, md5(text) AS h
      FROM documents
    ), canon AS (
      SELECT h, min(doc_id) AS doc_id FROM base GROUP BY h
    ), scored AS (
      SELECT doc_id, h, {lang_case} AS lang_pred, {quality} AS quality
      FROM (SELECT doc_id, text, toks, dt, h, {hit_cols} FROM base) x
    )
    SELECT s.doc_id, s.lang_pred, s.quality
    FROM scored s JOIN canon c ON s.doc_id = c.doc_id AND s.h = c.h
    WHERE s.quality >= 0.5 AND s.lang_pred = 'en'
    """


@register("pipeline_training_data", _pipeline_oracle())
def pipeline_training_data(spark, sf_dir):
    """The composed LLM-data pipeline: tokenize once -> language ID +
    quality score -> exact-dedup to canonical docs -> threshold filters.
    One declarative plan: Catalyst fuses the narrow analysis stages; the
    only shuffles are the dedup groupBy and its join back."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "text",
        TX.tokenize(F.col("text")).alias("toks"),
        F.md5("text").alias("h"),
    )
    canon = base.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    scored = base.select(
        "doc_id",
        "h",
        TX.lang_id_from_tokens(F.col("toks")).alias("lang_pred"),
        TX.quality_score(F.col("text"), F.col("toks")).alias("quality"),
    )
    return (
        scored.join(canon, ["doc_id", "h"])
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
        .select("doc_id", "lang_pred", "quality")
    )


# =====================================================================
# Multimodal plumbing
# =====================================================================

@register(
    "multimodal_features",
    """
    SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS content_sha256,
           floor(cast(('0x' || substr(sha256(text), 1, 8)) AS BIGINT)::DOUBLE
                 / 4294967296.0 * 1000000000) / 1000000000 AS mean_luma,
           cast(('0x' || substr(sha256(text), 9, 2)) AS BIGINT) % 16 + 1
             AS n_frames
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """Text payloads are not PNGs, so every row takes the deterministic
    sha256-surrogate arm of the decoder (the PNG arm is pytest-pinned
    on real pixels in tests/test_codecs.py) - which is what keeps this
    Python-decoded query exactly DuckDB-checkable."""
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = fan_out(_t(spark, sf_dir, "documents"))
    media = MM.attach_binary(d, "doc_id", "text")
    feats = MM.extract_features(media)
    return feats.select(
        "doc_id",
        "n_bytes",
        "content_sha256",
        quantize(F.col("mean_luma"), 9).alias("mean_luma"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


@register(
    "multimodal_audio_chunks",
    """
    WITH m AS (
      SELECT doc_id, coalesce(text, '') AS c FROM documents
    ), n AS (
      SELECT doc_id, c, strlen(c) * 5 AS dur_ms FROM m
    ), e AS (
      SELECT doc_id, c, dur_ms,
             unnest(range(0, (dur_ms + 999) // 1000)) AS i
      FROM n
    )
    SELECT doc_id, i::INT AS chunk_idx, (i * 1000)::BIGINT AS start_ms,
           least((i + 1) * 1000, dur_ms)::BIGINT AS end_ms,
           sha256(c || '@' || i) AS chunk_sha256
    FROM e
    """,
)
def multimodal_audio_chunks(spark, sf_dir):
    """Audio chunking plumbing (operators/multimodal.py chunk_audio):
    fixed-duration segments with a truncated final chunk, one row in ->
    n rows out through Arrow-batched mapInPandas. Codec stub outputs
    are sha256/length-derived, so the Python hop still carries an exact
    DuckDB oracle."""
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = fan_out(_t(spark, sf_dir, "documents"))
    media = MM.attach_binary(d, "doc_id", "text")
    chunks = MM.chunk_audio(media, chunk_ms=1000)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_ms",
        "end_ms",
        F.lower(F.hex("chunk")).alias("chunk_sha256"),
    )


@register(
    "multimodal_frames",
    """
    WITH m AS (
      SELECT doc_id, coalesce(text, '') AS c FROM documents
    ), n AS (
      SELECT doc_id, c,
             ('0x' || substr(sha256(c), 9, 2))::INT % 8 + 1 AS n_frames
      FROM m
    ), e AS (
      SELECT doc_id, c, unnest(range(0, n_frames)) AS i FROM n
    )
    SELECT doc_id, i::BIGINT AS frame_idx, (i * 40)::BIGINT AS frame_ts_ms,
           sha256(c || ':' || i) AS frame_sha256
    FROM e
    """,
)
def multimodal_frames(spark, sf_dir):
    """Video-frame sampling plumbing: one media row fans out to
    n_frames rows through an Arrow-batched mapInPandas (the
    row-multiplying UDTF shape). The codec stub's outputs are sha256-
    derived, so even this Python-side operator carries an exact DuckDB
    oracle; the query projects the frame bytes as hex for comparison."""
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = fan_out(_t(spark, sf_dir, "documents"))
    media = MM.attach_binary(d, "doc_id", "text")
    frames = MM.sample_frames(media, max_frames=8)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_ts_ms",
        F.lower(F.hex("frame")).alias("frame_sha256"),
    )


@register(
    "multimodal_gif_frames",
    """
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id % 7 = 0
    ), f AS (
      SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS i FROM d
    ), p AS (
      SELECT doc_id, i,
             1 + ((doc_id + 3 * i) % 8) AS w,
             20 + 40 * ((doc_id + i) % 6) AS g,
             10 * ((doc_id + i) % 5) AS delay
      FROM f
    ), mn AS (
      SELECT doc_id, min(g) AS bg FROM p GROUP BY doc_id
    ), ts AS (
      SELECT doc_id, i, coalesce(sum(delay) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS ts_ms
      FROM p
    ), cov AS (
      -- column x of the composed canvas at frame i shows the gray of
      -- the LAST frame j <= i whose region width exceeds x
      SELECT a.doc_id, a.i AS fi, x.x, max(b.i) AS lastj
      FROM p a
      JOIN p b ON b.doc_id = a.doc_id AND b.i <= a.i
      CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
      WHERE b.w > x.x
      GROUP BY a.doc_id, a.i, x.x
    ), px AS (
      SELECT t.doc_id, t.i AS frame_idx, t.ts_ms,
             coalesce(sum(g2.g), 0)
               + (8 - count(g2.g)) * any_value(mn.bg) AS col_sum
      FROM ts t
      JOIN mn ON mn.doc_id = t.doc_id
      LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.fi = t.i
      LEFT JOIN p g2 ON g2.doc_id = c.doc_id AND g2.i = c.lastj
      GROUP BY t.doc_id, t.i, t.ts_ms
    )
    SELECT doc_id, frame_idx::BIGINT AS frame_idx,
           ts_ms::BIGINT AS ts_ms, col_sum::BIGINT AS col_sum
    FROM px
    """,
)
def multimodal_gif_frames(spark, sf_dir):
    """The REAL animated-GIF arm of sample_frames under a full driver
    oracle (round-8): every doc_id%7==0 document becomes a genuine
    GIF89a animation with doc_id-derived geometry - 8x4 logical
    screen, 1 + doc_id%4 full-height frames of width 1+((doc_id+3i)%8)
    drawn at the origin in solid gray 20+40*((doc_id+i)%6) with GCE
    delay 10*((doc_id+i)%5) ms and disposal 1 - so the decoder's
    composition is ARITHMETIC: canvas column x at frame i shows the
    gray of the last frame j<=i with w_j > x (background = the
    palette's lexicographic-min gray elsewhere, bg_index 0), and the
    frame timestamp is the running sum of prior delays. sample_frames
    decodes the animation (codecs.gif_decode_frames: LZW + GCE
    composition) and re-encodes each composed canvas; the query then
    decodes row 0 of each emitted frame and projects its integer
    column sum, which DuckDB recomputes from the derivation rules
    alone - no codec on the oracle side, yet every byte of the encode
    -> compose -> re-encode -> decode path is verified."""
    import numpy as np
    import pandas as pd

    from ghcrawler_datalake_etl_spark.operators import codecs as C
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 1 + doc_id % 4
                items = []
                for i in range(n):
                    w = 1 + ((doc_id + 3 * i) % 8)
                    g = 20 + 40 * ((doc_id + i) % 6)
                    delay = 10 * ((doc_id + i) % 5)
                    arr = np.full((4, w, 3), g, np.uint8)
                    items.append((arr, 0, 0, delay, 1, None))
                ids.append(doc_id)
                payloads.append(C.gif_encode_animation((8, 4), items))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_type": "image/gif",
                    "content": payloads,
                }
            )

    media = d.mapInPandas(
        build, schema="doc_id long, media_type string, content binary"
    )
    frames = MM.sample_frames(media, max_frames=8)

    def rowsum(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sums = [
                int(
                    C.gif_decode_first_frame(bytes(b))[0, :, 0]
                    .astype(np.int64)
                    .sum()
                )
                for b in pdf["frame"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int64"),
                    "ts_ms": pdf["frame_ts_ms"].astype("int64"),
                    "col_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return frames.mapInPandas(
        rowsum,
        schema="doc_id long, frame_idx long, ts_ms long, col_sum long",
    )


@register(
    "multimodal_gif_resize",
    """
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id % 7 = 3
    ), f AS (
      SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS i FROM d
    ), p AS (
      SELECT doc_id, i,
             1 + ((doc_id + 3 * i) % 8) AS w,
             20 + 40 * ((doc_id + i) % 6) AS g,
             10 * ((doc_id + i) % 5) AS delay
      FROM f
    ), mn AS (
      SELECT doc_id, min(g) AS bg FROM p GROUP BY doc_id
    ), ts AS (
      SELECT doc_id, i, coalesce(sum(delay) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS ts_ms
      FROM p
    ), cov AS (
      -- resized column x' samples source column (x'*8)//5
      -- (resize_nearest's floor mapping); the sampled source column
      -- shows the gray of the LAST frame j <= i whose width exceeds it
      SELECT a.doc_id, a.i AS fi, x.x, max(b.i) AS lastj
      FROM p a
      JOIN p b ON b.doc_id = a.doc_id AND b.i <= a.i
      CROSS JOIN (SELECT unnest(range(0, 5)) AS x) x
      WHERE b.w > (x.x * 8) // 5
      GROUP BY a.doc_id, a.i, x.x
    ), px AS (
      SELECT t.doc_id, t.i AS frame_idx, t.ts_ms,
             coalesce(sum(g2.g), 0)
               + (5 - count(g2.g)) * any_value(mn.bg) AS col_sum
      FROM ts t
      JOIN mn ON mn.doc_id = t.doc_id
      LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.fi = t.i
      LEFT JOIN p g2 ON g2.doc_id = c.doc_id AND g2.i = c.lastj
      GROUP BY t.doc_id, t.i, t.ts_ms
    )
    SELECT doc_id, frame_idx::BIGINT AS frame_idx,
           ts_ms::BIGINT AS ts_ms, col_sum::BIGINT AS col_sum
    FROM px
    """,
)
def multimodal_gif_resize(spark, sf_dir):
    """The animated-resize path under a full driver oracle (round-8):
    the same doc_id-derived GIF89a animations as multimodal_gif_frames
    (residue 3 of the doc space), pushed through resize_images to
    5x3 - a non-divisor size, so resize_nearest's floor mapping
    (src_x = (x*8)//5) is actually exercised - then the RESIZED
    animation is decoded back frame by frame. Frame count and GCE
    delays must survive the resize re-encode (gif_frame_delays +
    gif_encode_animation), and each resized frame's row-0 column sum
    is pure arithmetic over the derivation rules: resized column x'
    shows the gray of the last frame j<=i covering source column
    (x'*8)//5. Verifies decode -> compose -> per-frame resize ->
    animation re-encode -> decode, byte-real end to end, with no codec
    on the oracle side."""
    import numpy as np
    import pandas as pd

    from ghcrawler_datalake_etl_spark.operators import codecs as C
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 1 + doc_id % 4
                items = []
                for i in range(n):
                    w = 1 + ((doc_id + 3 * i) % 8)
                    g = 20 + 40 * ((doc_id + i) % 6)
                    delay = 10 * ((doc_id + i) % 5)
                    arr = np.full((4, w, 3), g, np.uint8)
                    items.append((arr, 0, 0, delay, 1, None))
                ids.append(doc_id)
                payloads.append(C.gif_encode_animation((8, 4), items))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_type": "image/gif",
                    "content": payloads,
                    "width": pd.Series([8] * len(ids), dtype="int32"),
                    "height": pd.Series([4] * len(ids), dtype="int32"),
                    "sample_rate": pd.Series(
                        [None] * len(ids), dtype="Int32"
                    ),
                    "duration_ms": pd.Series(
                        [None] * len(ids), dtype="Int64"
                    ),
                }
            )

    media = d.mapInPandas(build, schema=MM.MEDIA_SCHEMA)
    resized = MM.resize_images(media, 5, 3)

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, idxs, tss, sums = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["content"]):
                frames, ts = C.gif_decode_frames(bytes(b))
                for i, (fr, t) in enumerate(zip(frames, ts)):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    tss.append(t)
                    sums.append(int(fr[0, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "col_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return resized.mapInPandas(
        decode,
        schema="doc_id long, frame_idx long, ts_ms long, col_sum long",
    )


@register(
    "multimodal_wav_stats",
    """
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id % 7 = 5
    ), p AS (
      SELECT doc_id,
             400 + 40 * (doc_id % 5) AS n,
             4096 * (1 + doc_id % 7) AS a,
             ((400 + 40 * (doc_id % 5)) * (doc_id % 4)) // 4 AS m
      FROM d
    )
    SELECT doc_id,
           (n // 8)::BIGINT AS duration_ms,
           sqrt(((a::DOUBLE * a * m) / 1073741824.0) / n) AS rms,
           CASE WHEN m > 0 THEN a / 32768.0 ELSE 0.0 END AS peak,
           (n - m)::DOUBLE / n AS silence_ratio
    FROM p
    """,
)
def multimodal_wav_stats(spark, sf_dir):
    """The REAL 16-bit-PCM arm of audio_stats under a full driver
    oracle (round-8; the sine-tone arm stays pytest-pinned because
    transcendental sample values aren't cross-engine-exact): every
    doc_id%7==5 document becomes a genuine RIFF/WAVE payload - 8 kHz
    mono step waveform, n = 400+40*(doc_id%5) samples (always a
    multiple of 8, so the header-derived duration is the exact integer
    n/8 ms), the first m = n*(doc_id%4)//4 samples at amplitude
    4096*(1+doc_id%7) and the rest zero. Every statistic the decode
    produces is then closed-form: peak = a/32768 (a dyadic rational),
    rms = sqrt((a^2*m/2^30)/n) (one correctly-rounded division + one
    correctly-rounded sqrt on both engines - bit-identical), and
    silence_ratio = (n-m)/n (the step exceeds the 0.01 threshold by
    construction, zeros sit under it). DuckDB recomputes all four from
    the derivation rules; the WAV header walk, PCM decode,
    normalization, and mono mix are byte-real through
    codecs.wav_samples/wav_info inside multimodal.audio_stats."""
    import numpy as np
    import pandas as pd

    from ghcrawler_datalake_etl_spark.operators import codecs as C
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 5)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 400 + 40 * (doc_id % 5)
                a = 4096 * (1 + doc_id % 7)
                m = (n * (doc_id % 4)) // 4
                pcm = np.zeros(n, dtype=np.int16)
                pcm[:m] = a
                ids.append(doc_id)
                payloads.append(C.wav_encode_pcm(8000, pcm))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_type": "audio/wav",
                    "content": payloads,
                }
            )

    media = d.mapInPandas(
        build, schema="doc_id long, media_type string, content binary"
    )
    return MM.audio_stats(media).select(
        "doc_id", "duration_ms", "rms", "peak", "silence_ratio"
    )


@register(
    "multimodal_image_features",
    """
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id % 7 = 6
    ), p AS (
      SELECT doc_id,
             doc_id % 4 AS kind,
             3 + doc_id % 6 AS w,
             2 + doc_id % 5 AS h,
             30.0 * (doc_id % 8) AS r,
             30.0 * ((doc_id + 1) % 8) AS g,
             30.0 * ((doc_id + 2) % 8) AS b,
             20.0 + 40.0 * (doc_id % 6) AS gray
      FROM d
    )
    SELECT doc_id,
           CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                     WHEN 2 THEN 'gif' ELSE 'jpeg' END AS fmt,
           (CASE WHEN kind = 3 THEN 16 ELSE w END)::INT AS width,
           (CASE WHEN kind = 3 THEN 12 ELSE h END)::INT AS height,
           -- frame count varies on a modulus INDEPENDENT of the kind
           -- selector (doc_id % 4 = 2 for every GIF would pin
           -- 1 + doc_id % 4 to a constant 3 and silently drop the
           -- 1/2/4-frame arms; round-9 review)
           (CASE WHEN kind = 2 THEN 1 + (doc_id // 4) % 4
                 ELSE 1 END)::INT AS n_frames,
           floor(CASE WHEN kind = 2
                THEN (0.299 * gray + 0.587 * gray + 0.114 * gray) / 255.0
                WHEN kind = 3 THEN gray / 255.0
                ELSE (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
           END * 1e12) / 1e12 AS mean_luma
    FROM p
    """,
)
def multimodal_image_features(spark, sf_dir):
    """The REAL image-decode arms of extract_features under a full
    driver oracle (round-8, progressive-JPEG arm round-9): every
    doc_id%7==6 document becomes a genuine payload of its doc-derived
    format - PNG (full zlib/filter decode), 24-bit BMP (bottom-up row
    decode), animated GIF89a (header block walk for the frame count +
    LZW first-frame decode), or PROGRESSIVE JPEG (SOF2, spectral
    selection + successive approximation) - in a doc-derived solid
    color, so every extracted feature is closed-form: dims from the
    real headers, n_frames from the real block walk (1 + (doc_id//4)%4 for
    the GIFs), and mean_luma the Rec.601 fold of the known color. The
    JPEG rows additionally run the FULL progressive pixel decode: the
    payload is resized through resize_images (jpeg_decode dispatches
    SOF2 to the multi-scan decoder, re-encodes baseline at 16x12), so
    its features are closed-form post-resize - width/height the resize
    target and mean_luma = gray/255 exactly (gray-128 is even by
    construction, so the DC quantization by Annex-K q0=16 is lossless
    and the flat canvas survives decode->resample->re-encode->DC-luma
    bit-exactly). mean_luma is floor-quantized at 12 digits on BOTH
    sides (ADVICE r8): numpy's pairwise y.mean() over n identical
    pixels differs from the closed-form (0.299r + 0.587g + 0.114b)/255
    by 1 ulp on ~38% of residues when n is not a power of 2, so the
    raw doubles are NOT bit-identical; quantize(12) maps both to the
    same value for every residue class (probed over the full
    doc_id%840 period). The sha256/n_bytes columns (encoder-byte-
    dependent) are projected away; the surrogate arm stays oracled by
    multimodal_features."""
    import numpy as np
    import pandas as pd

    from ghcrawler_datalake_etl_spark.operators import codecs as C
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 6)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, kinds, payloads = [], [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                kind = doc_id % 4
                if kind == 3:
                    continue  # progressive-JPEG arm: separate subtree
                w = 3 + doc_id % 6
                h = 2 + doc_id % 5
                if kind == 0:
                    rgb = [30 * (doc_id % 8), 30 * ((doc_id + 1) % 8),
                           30 * ((doc_id + 2) % 8)]
                    arr = np.full((h, w, 3), rgb, np.uint8)
                    data = C.png_encode(arr)
                    fmt = "png"
                elif kind == 1:
                    rgb = [30 * (doc_id % 8), 30 * ((doc_id + 1) % 8),
                           30 * ((doc_id + 2) % 8)]
                    arr = np.full((h, w, 3), rgb, np.uint8)
                    data = C.bmp_encode(arr)
                    fmt = "bmp"
                else:
                    n = 1 + (doc_id // 4) % 4
                    gray = 20 + 40 * (doc_id % 6)
                    items = [
                        (np.full((h, w, 3), gray, np.uint8), 0, 0, 40, 1,
                         None)
                        for _ in range(n)
                    ]
                    data = C.gif_encode_animation((w, h), items)
                    fmt = "gif"
                ids.append(doc_id)
                kinds.append(fmt)
                payloads.append(data)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_type": ["image/" + k for k in kinds],
                    "content": payloads,
                }
            )

    def build_jpeg(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 3 + doc_id % 6
                h = 2 + doc_id % 5
                gray = 20 + 40 * (doc_id % 6)
                arr = np.full((h, w), gray, np.uint8)
                ids.append(doc_id)
                payloads.append(
                    C.jpeg_encode_progressive(arr, spectral=True)
                )
            k = len(ids)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_type": "image/jpeg",
                    "content": payloads,
                    "width": pd.Series([None] * k, dtype="Int32"),
                    "height": pd.Series([None] * k, dtype="Int32"),
                    "sample_rate": pd.Series([None] * k, dtype="Int32"),
                    "duration_ms": pd.Series([None] * k, dtype="Int64"),
                }
            )

    media = d.where(F.col("doc_id") % 4 != 3).mapInPandas(
        build, schema="doc_id long, media_type string, content binary"
    )
    media_jpeg = d.where(F.col("doc_id") % 4 == 3).mapInPandas(
        build_jpeg, schema=MM.MEDIA_SCHEMA
    )
    resized = MM.resize_images(media_jpeg, 16, 12).select(
        "doc_id", "media_type", "content"
    )
    feats = MM.extract_features(media.unionByName(resized))
    return feats.select(
        "doc_id",
        F.expr("substring(media_type, 7)").alias("fmt"),
        "width",
        "height",
        "n_frames",
        quantize(F.col("mean_luma"), 12).alias("mean_luma"),
    )


@register(
    "text_clean_lines",
    """
    WITH d AS (
      SELECT doc_id % 50 AS grp, doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'Lorem Ipsum dolor sit amet.'
                  WHEN doc_id % 3 = 0 THEN text || '.'
                  WHEN doc_id % 3 = 1 THEN text
                  ELSE text || ' {x}' END AS ln
      FROM documents WHERE text IS NOT NULL
    ), c AS (
      SELECT grp, string_agg(ln, chr(10) ORDER BY doc_id) AS txt
      FROM d GROUP BY grp
    )
    SELECT grp, unnest(list_filter(
             list_transform(string_split(txt, chr(10)), l -> trim(l)),
             l -> len(list_filter(string_split_regex(l, '\\s+'),
                                  w -> w <> '')) >= 3
                  AND regexp_matches(l, '[.!?"]$')
                  AND NOT contains(lower(l), 'lorem ipsum')
                  AND NOT contains(l, '{')
                  AND NOT contains(l, '}'))) AS line
    FROM c
    """,
)
def text_clean_lines(spark, sf_dir):
    """C4-style line-level boilerplate filter (operators/text.clean_lines)
    over a DERIVED multi-line corpus: the pinned testdata is single-line
    word soup with no terminal punctuation, so the raw-table oracle would
    be vacuously empty (SURVEY.md section 2.9b kept this pytest-only
    through round 3). Decorating lines by doc_id residue exercises every
    filter arm non-vacuously - kept (terminal '.'), dropped-no-terminal,
    dropped-brace, dropped-lorem-ipsum - and grouping 50 docs per corpus
    makes each text genuinely multi-line before the split."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    decorated = d.select(
        (F.col("doc_id") % 50).alias("grp"),
        F.col("doc_id"),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit("Lorem Ipsum dolor sit amet.")
        )
        .when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(".")))
        .when(F.col("doc_id") % 3 == 1, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" {x}")))
        .alias("ln"),
    )
    corpus = decorated.groupBy("grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "ln"))),
                lambda s: s["ln"],
            ),
            "\n",
        ).alias("txt")
    )
    return corpus.select(
        "grp", F.explode(TX.clean_lines(F.col("txt"))).alias("line")
    )


# =====================================================================
# Sketches: HLL / Count-Min / KMV (operators/sketches.py)
# =====================================================================
# The sketch family the reference lacks and a 100 TB pipeline needs:
# bounded-state approximations whose DuckDB oracles replay the SAME
# md5-derived sketch bit-for-bit (integer register sums / counters /
# bottom-k hashes are exact-match columns; the single final float op
# is floor-quantized per the repo convention).

@register(
    "sketch_incremental_stats",
    f"""
    WITH src AS (
      SELECT event_type, value, user_id FROM events
    ),
    {SK.hll_oracle_sql("src", "user_id", ["event_type"])},
    scal AS (
      SELECT event_type, cast(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS total_value,
             min(value) AS min_v, max(value) AS max_v
      FROM src GROUP BY event_type
    )
    SELECT s.event_type, s.n, s.total_value, s.min_v, s.max_v,
           coalesce(floor(h.hll_estimate * 100) / 100, 0.0) AS distinct_users_est
    FROM scal s LEFT JOIN hll_est h ON s.event_type = h.event_type
    """,
)
def sketch_incremental_stats(spark, sf_dir):
    """Round-9: materialized-view maintenance over MERGEABLE aggregate
    state (sketches.stats_state/stats_merge/stats_finalize). events
    split into three 'days' by event_id % 3; each day's per-event_type
    state row (count, sum, min, max, HLL user registers) is written to
    its own parquet dir - the standing stats table - then all three are
    read back, folded by stats_merge (add/fold/register-max: exactly
    lossless), and finalized. The oracle recomputes every stat plus the
    register-replay HLL estimate from the RAW events: the driver row
    proves a standing stats table maintained by per-day state folds -
    never rescanning history - reports numbers identical to a full
    recompute. At 100 TB this is the daily-corpus-report shape: state
    per key is O(1) (4 scalars + <= 256 registers), merge cost is
    O(standing keys), not O(history rows)."""
    import os
    import re

    ev = _t(spark, sf_dir, "events")
    keys = ["event_type"]
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"statstate_{tag}")
    parts = []
    for day in range(3):
        p = os.path.join(root, f"d{day}")
        parts.append(
            _store(
                SK.stats_state(
                    ev.filter(F.col("event_id") % 3 == day),
                    keys, "value", "user_id",
                ),
                p,
            )
        )
    states = parts[0].unionByName(parts[1]).unionByName(parts[2])
    fin = SK.stats_finalize(SK.stats_merge(states, keys), keys)
    return fin.select(
        "event_type",
        "n",
        F.round(F.col("sum_v"), 2).alias("total_value"),
        "min_v",
        "max_v",
        quantize(F.col("distinct_est"), 2).alias("distinct_users_est"),
    )


@register(
    "sketch_stats_cdc_table",
    f"""
    WITH src AS (
      SELECT event_type, value, user_id FROM events
    ),
    {SK.hll_oracle_sql("src", "user_id", ["event_type"])},
    scal AS (
      SELECT event_type, cast(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS total_value,
             min(value) AS min_v, max(value) AS max_v
      FROM src GROUP BY event_type
    )
    SELECT s.event_type, s.n, s.total_value, s.min_v, s.max_v,
           coalesce(floor(h.hll_estimate * 100) / 100, 0.0) AS distinct_users_est
    FROM scal s LEFT JOIN hll_est h ON s.event_type = h.event_type
    """,
)
def sketch_stats_cdc_table(spark, sf_dir):
    """Round-10 (VERDICT r9 #8): the standing stats table maintained
    AS A TABLE through the CDC merge sink - closing the loop between
    the round-8 merge family and the round-9 mergeable-state family.
    Day 0's per-event_type state (count/sum/min/max/HLL registers)
    bootstraps a bucketed catalog table; each later day computes ONLY
    its own delta state, folds it with the standing rows of the keys
    it touches (one semi-join - untouched keys are never read, let
    alone rewritten), and lands the folded rows through
    ParquetCatalog.merge_upsert's bucket-pruned rewrite + atomic
    pointer flip. The final read-back finalizes the table; the oracle
    is a full recompute from raw events (same contract as
    sketch_incremental_stats, whose fold is ad hoc rather than
    table-backed). At 100 TB this is the production daily loop: delta
    cost O(day), merge cost O(touched keys), history never rescanned,
    and the state lives behind the same snapshot/versioning contract
    as every other dimension table."""
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    ev = _t(spark, sf_dir, "events")
    keys = ["event_type"]
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    wh = _run_tmp(f"statstbl_{tag}")
    cat = ParquetCatalog(spark, wh)
    cat.merge_upsert(
        SK.stats_state(
            ev.filter(F.col("event_id") % 3 == 0), keys, "value", "user_id"
        ),
        "StatsState",
        keys,
        num_buckets=8,
    )
    for day in (1, 2):
        delta = SK.stats_state(
            ev.filter(F.col("event_id") % 3 == day), keys, "value", "user_id"
        )
        touched = cat.read("StatsState").join(
            delta.select(*keys).distinct(), keys, "left_semi"
        )
        folded = SK.stats_merge(touched.unionByName(delta), keys)
        cat.merge_upsert(folded, "StatsState", keys, num_buckets=8)
    fin = SK.stats_finalize(cat.read("StatsState"), keys)
    return fin.select(
        "event_type",
        "n",
        F.round(F.col("sum_v"), 2).alias("total_value"),
        "min_v",
        "max_v",
        quantize(F.col("distinct_est"), 2).alias("distinct_users_est"),
    )


@register(
    "sketch_hll_distinct",
    f"""
    WITH src AS (
      SELECT 'event' AS entity, event_type, event_id AS v FROM events
      UNION ALL
      SELECT 'user' AS entity, event_type, user_id AS v FROM events
    ),
    {SK.hll_oracle_sql("src", "v", ["entity", "event_type"])},
    exact AS (
      SELECT entity, event_type,
             cast(count(DISTINCT v) AS BIGINT) AS exact_distinct
      FROM src WHERE v IS NOT NULL GROUP BY entity, event_type
    )
    SELECT e.entity, e.event_type, e.exact_distinct, h.n_registers,
           h.register_sum,
           floor(h.hll_estimate * 100) / 100 AS hll_estimate
    FROM hll_est h
    JOIN exact e ON h.entity = e.entity AND h.event_type = e.event_type
    """,
)
def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct estimate per (entity, event_type) next to
    the exact count (operators/sketches.hll_distinct): distinct
    event_ids (high cardinality -> the raw alpha*m^2/S estimator) and
    distinct user_ids (low cardinality -> the linear-counting
    correction) in ONE sketch pass, so both branches are
    driver-verified. The integer ``register_sum`` column is the
    ENTIRE sketch state scaled by 2^45 - an exact-match proof that
    both engines built bit-identical registers - and the estimate is
    the one floor-quantized float. At 100 TB the (group, bucket)
    max-rho aggregation carries <= 256 rows per group through the
    shuffle where exact COUNT(DISTINCT) carries every distinct id."""
    ev = _t(spark, sf_dir, "events")
    src = ev.select(
        F.lit("event").alias("entity"),
        "event_type",
        F.col("event_id").alias("v"),
    ).unionByName(
        ev.select(
            F.lit("user").alias("entity"),
            "event_type",
            F.col("user_id").alias("v"),
        )
    )
    est = SK.hll_distinct(src, "v", ["entity", "event_type"])
    exact = (
        src.filter(F.col("v").isNotNull())
        .groupBy("entity", "event_type")
        .agg(F.countDistinct("v").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, ["entity", "event_type"]).select(
        "entity",
        "event_type",
        "exact_distinct",
        "n_registers",
        "register_sum",
        quantize(F.col("hll_estimate"), 2).alias("hll_estimate"),
    )


@register(
    "sketch_cms_heavy_hitters",
    f"""
    WITH {SK.cms_oracle_sql("SELECT t.term FROM (SELECT " + _TOKS_SQL
    + " AS toks FROM documents) d, unnest(d.toks) AS t(term)")}
    SELECT term, cms_estimate, n AS exact_n,
           cms_estimate - n AS overcount
    FROM cms_est ORDER BY cms_estimate DESC, term LIMIT 20
    """,
)
def sketch_cms_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters (operators/sketches.cms_sketch /
    cms_estimate): the 3x1024 counter table built in ONE
    map-side-combined pass, then every distinct token point-estimated
    by the min of its three counters and ranked. Estimates are pure
    integers (exact oracle) and never undercount - ``overcount`` is
    the per-token collision error, >= 0 by construction. At 100 TB
    the sketch shuffle state is 3072 counters per task vs the full
    vocabulary for the exact count it approximates."""
    d = fan_out(_t(spark, sf_dir, "documents"))
    tok = d.select(F.explode(TX.tokenize(F.col("text"))).alias("term"))
    sk = SK.cms_sketch(tok, "term")
    cand = tok.groupBy("term").agg(F.count("*").cast("long").alias("n"))
    est = SK.cms_estimate(cand, sk, "term")
    return (
        est.select(
            "term",
            "cms_estimate",
            F.col("n").alias("exact_n"),
            (F.col("cms_estimate") - F.col("n")).alias("overcount"),
        )
        .orderBy(F.desc("cms_estimate"), "term")
        .limit(20)
    )


@register(
    "sketch_histogram_quantiles",
    """
    WITH h AS (
      SELECT event_type,
             cast(least(greatest(floor((cast(value AS DOUBLE) - 0.0) / 1.0),
                                 0), 1023) AS BIGINT) AS bin,
             cast(count(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    qx AS (
      SELECT event_type, cast(max(n) AS BIGINT) AS n,
             min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS b50,
             min(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) AS b90,
             min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) AS b99
      FROM cum GROUP BY event_type
    ),
    ex AS (
      SELECT event_type,
             quantile_disc(value, 0.5) AS p50_exact,
             quantile_disc(value, 0.9) AS p90_exact,
             quantile_disc(value, 0.99) AS p99_exact
      FROM events GROUP BY event_type
    )
    SELECT q.event_type, q.n,
           floor((0.0 + b50 * 1.0) * 10000) / 10000 AS p50_est,
           floor((0.0 + b90 * 1.0) * 10000) / 10000 AS p90_est,
           floor((0.0 + b99 * 1.0) * 10000) / 10000 AS p99_est,
           ex.p50_exact, ex.p90_exact, ex.p99_exact
    FROM qx q JOIN ex USING (event_type)
    """,
)
def sketch_histogram_quantiles(spark, sf_dir):
    """Mergeable equi-width histogram quantiles
    (operators/sketches.histogram_sketch / histogram_quantiles,
    1024 unit bins over [0, 1024)) next to the EXACT discrete
    percentiles - the bounded-state twin of agg_value_percentiles:
    the estimate's error is one bin width by construction, and the
    per-group running-sum window runs over <= 1024 histogram rows,
    never the data (the same bounded-frame discipline as
    text_perplexity_buckets). At 100 TB the histogram shuffles
    <= bins rows per group and merges by addition across shards,
    where the exact sort-based percentile shuffles every value."""
    ev = _t(spark, sf_dir, "events")
    hist = SK.histogram_sketch(
        ev, "value", ["event_type"], 0.0, 1024.0, 1024
    )
    est = SK.histogram_quantiles(
        hist, ["event_type"], [0.5, 0.9, 0.99], 0.0, 1024.0, 1024
    )
    ev.createOrReplaceTempView("_ev_hist_q")
    exact = spark.sql("""
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50_exact,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90_exact,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99_exact
      FROM _ev_hist_q GROUP BY event_type
    """)
    return est.join(exact, "event_type").select(
        "event_type",
        "n",
        quantize(F.col("p50_est"), 4).alias("p50_est"),
        quantize(F.col("p90_est"), 4).alias("p90_est"),
        quantize(F.col("p99_est"), 4).alias("p99_est"),
        "p50_exact",
        "p90_exact",
        "p99_exact",
    )


@register(
    "sketch_kmv_overlap",
    f"""
    WITH {SK.kmv_overlap_oracle_sql(
        "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')",
        "(SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')",
        "o_custkey",
        64,
    )},
    ex AS (
      SELECT cast(count(*) AS BIGINT) AS exact_union,
             cast(count(*) FILTER (WHERE in_a AND in_b) AS BIGINT)
               AS exact_intersection
      FROM (SELECT o_custkey,
                   bool_or(o_orderpriority = '1-URGENT') AS in_a,
                   bool_or(o_orderpriority = '5-LOW') AS in_b
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            GROUP BY o_custkey)
    )
    SELECT s.n_union_seen, s.n_shared, s.kth_hash,
           floor(s.jaccard_est * 10000) / 10000 AS jaccard_est,
           floor(s.union_est * 100) / 100 AS union_est,
           floor(s.intersection_est * 100) / 100 AS intersection_est,
           ex.exact_union, ex.exact_intersection
    FROM kmv_ov s CROSS JOIN ex
    """,
)
def sketch_kmv_overlap(spark, sf_dir):
    """Audience-overlap estimation from two bottom-k sketches
    (operators/sketches.kmv_overlap, k=64): customers with URGENT
    orders vs customers with LOW orders - |A n B|, |A u B| and Jaccard
    estimated from 2k hashes total, next to the exact answers. The
    union's bottom-k membership flags come from a full-outer join of
    the two bottom-k frames (a hash in S that belongs to A at all must
    be in bottom-k(A)); the bottom-k itself is a distributed
    TakeOrdered, never a global sort. Integer sketch state
    (n_shared/kth_hash) matches bit-for-bit; the two float estimator
    ops are floor-quantized."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    ov = SK.kmv_overlap(a, b, "o_custkey", k=64)
    both = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    flags = both.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias(
            "ia"
        ),
        F.max((F.col("o_orderpriority") == "5-LOW").cast("int")).alias("ib"),
    )
    exact = flags.agg(
        F.count("*").cast("long").alias("exact_union"),
        # count-of-when, not sum: stays 0 (never NULL) on an empty table
        F.count(F.when((F.col("ia") == 1) & (F.col("ib") == 1), F.lit(1)))
        .cast("long")
        .alias("exact_intersection"),
    )
    return ov.crossJoin(F.broadcast(exact)).select(
        "n_union_seen",
        "n_shared",
        "kth_hash",
        quantize(F.col("jaccard_est"), 4).alias("jaccard_est"),
        quantize(F.col("union_est"), 2).alias("union_est"),
        quantize(F.col("intersection_est"), 2).alias("intersection_est"),
        "exact_union",
        "exact_intersection",
    )


@register(
    "sketch_hll_merge",
    f"""
    WITH src AS (SELECT 'all' AS scope, event_id FROM events),
    {SK.hll_oracle_sql("src", "event_id", ["scope"])},
    exact AS (
      SELECT cast(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
      FROM events WHERE event_id IS NOT NULL
    ),
    partials AS (
      SELECT cast(count(*) AS BIGINT) AS n_partial_registers FROM (
        SELECT DISTINCT event_type,
               cast(('0x' || substr(md5(cast(event_id AS VARCHAR)), 1, 2))
                 AS BIGINT) AS bucket
        FROM events WHERE event_id IS NOT NULL
      )
    )
    SELECT h.scope, p.n_partial_registers, h.n_registers, h.register_sum,
           floor(h.hll_estimate * 100) / 100 AS hll_estimate,
           e.exact_distinct
    FROM hll_est h CROSS JOIN exact e CROSS JOIN partials p
    """,
)
def sketch_hll_merge(spark, sf_dir):
    """Sketch ALGEBRA, the property that makes HLL distributed: build
    per-event_type partial register frames, merge them to one global
    sketch (operators/sketches.hll_merge - max per bucket, lossless
    because max is associative/commutative/idempotent), and estimate.
    The oracle computes the DIRECT global sketch from the raw data -
    the integer register_sum matching bit-for-bit is the proof that
    merged partials == sketch-of-union, i.e. 100 TB of per-shard
    sketches roll up without rescanning. ``n_partial_registers`` (the
    merged input rows) rides along to show the merge compressed
    real partials, not a single frame."""
    ev = _t(spark, sf_dir, "events")
    regs = SK.hll_registers(ev, "event_id", ["event_type"])
    merged = SK.hll_merge(
        regs.withColumn("scope", F.lit("all")), ["scope"]
    )
    est = SK.hll_estimate_from_registers(merged, ["scope"])
    exact = (
        ev.filter(F.col("event_id").isNotNull())
        .agg(F.countDistinct("event_id").cast("long").alias("exact_distinct"))
    )
    partials = regs.agg(
        F.count("*").cast("long").alias("n_partial_registers")
    )
    return (
        est.crossJoin(F.broadcast(partials))
        .crossJoin(F.broadcast(exact))
        .select(
            "scope",
            "n_partial_registers",
            "n_registers",
            "register_sum",
            quantize(F.col("hll_estimate"), 2).alias("hll_estimate"),
            "exact_distinct",
        )
    )


_BLOOM_POS_SQL = (
    "cast(('0x' || substr(md5(cast(s.seed AS VARCHAR) || chr(31) || {v}), "
    "1, 15)) AS BIGINT) % " + str(SK.BLOOM_M)
)


@register(
    "sketch_bloom_decontaminate",
    f"""
    WITH {_SHINGLE_CTE_SQL},
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
    bits AS (
      SELECT DISTINCT {_BLOOM_POS_SQL.format(v='e.g')} AS pos
      FROM ev e CROSS JOIN (VALUES (0), (1), (2)) s(seed)
    ),
    cand AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0),
    probe AS (
      SELECT c.doc_id, c.g, (count(b.pos) = {SK.BLOOM_K}) AS maybe
      FROM cand c
      CROSS JOIN (VALUES (0), (1), (2)) s(seed)
      LEFT JOIN bits b ON b.pos = {_BLOOM_POS_SQL.format(v='c.g')}
      GROUP BY c.doc_id, c.g
    ),
    hits AS (
      SELECT doc_id, cast(count(*) AS BIGINT) AS n_shingles,
             cast(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_bloom_hits
      FROM probe GROUP BY doc_id
    ),
    ex AS (
      SELECT c.doc_id, cast(count(*) AS BIGINT) AS n_exact_hits
      FROM cand c JOIN ev USING (g) GROUP BY c.doc_id
    )
    SELECT h.doc_id, h.n_shingles, h.n_bloom_hits,
           coalesce(x.n_exact_hits, 0) AS n_exact_hits,
           h.n_bloom_hits - coalesce(x.n_exact_hits, 0) AS n_false_pos
    FROM hits h LEFT JOIN ex x USING (doc_id)
    """,
)
def sketch_bloom_decontaminate(spark, sf_dir):
    """Dolma-style Bloom-filter decontamination
    (operators/sketches.bloom_bits / bloom_probe): the eval slice's
    shingles set a 32768-bit / 3-hash Bloom filter, every candidate
    shingle probes it, and the per-doc report carries the bloom hit
    count NEXT TO the exact-join hit count - ``n_false_pos`` >= 0 by
    the no-false-negatives guarantee, which the oracle (an identical
    replayed filter, pure integers) verifies bit-exactly. At 100 TB
    the bits frame stays <= m rows and broadcasts regardless of eval
    size, so the probe side never shuffles - the reason bloom
    decontamination beats the exact join the sibling
    decontaminate_eval_overlap query runs."""
    d = _t(spark, sf_dir, "documents")
    # materialize the shingle frame once (the _materialize discipline
    # from operators/dedup.py). Round-11 restructure (VERDICT r10 #4):
    # the exact-hit join is FOLDED INTO the probe pass - cand is
    # consumed once and there is ONE aggregate, so sh now has two
    # consumers (ev build + cand) instead of six. That both speeds the
    # happy path (one less shuffle + no hits/exact re-join) and
    # bounds the cache-eviction pathology: if sh's persisted blocks
    # are displaced under a full loop's storage pressure, the
    # recompute band is 2 shingle scans, not 6 (the r10 driver bench
    # read 16.05s - the 6x recompute signature - vs 1.45s idle;
    # NOTES_r11.md has the root-cause trail)
    sh = d.select("doc_id", DD.shingles(F.col("text"), 3).alias("sh"))
    sh.persist()
    sh.count()
    sh = sh.filter(F.size("sh") > 0)
    pred = F.col("doc_id") % 97 == 0
    ev = sh.filter(pred).select(F.explode("sh").alias("g")).distinct()
    bits = SK.bloom_bits(ev, "g")
    bits.persist()
    bits.count()
    cand = sh.filter(~pred).select("doc_id", F.explode("sh").alias("g"))
    probed = SK.bloom_probe(cand, "g", bits).join(
        ev.select("g", F.lit(1).alias("_ex")), "g", "left"
    )
    out = probed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.col("bloom_maybe").cast("long"))
        .cast("long")
        .alias("n_bloom_hits"),
        F.sum(F.coalesce(F.col("_ex"), F.lit(0)))
        .cast("long")
        .alias("n_exact_hits"),
        (
            F.sum(F.col("bloom_maybe").cast("long"))
            - F.sum(F.coalesce(F.col("_ex"), F.lit(0)))
        )
        .cast("long")
        .alias("n_false_pos"),
    )
    # per-doc verdicts are corpus-row sized and cheap; eagerly
    # checkpoint them and RELEASE the private shingle/bit frames -
    # pinned, they are pure eviction pressure for the rest of a full
    # bench/driver loop (the recompute band they guarded against can
    # no longer occur once the result is materialized)
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    bits.unpersist()
    return out


@register(
    "sketch_kmv_distinct",
    f"""
    WITH {SK.kmv_oracle_sql("orders", "o_custkey", ["o_orderpriority"], 64)},
    exact AS (
      SELECT o_orderpriority,
             cast(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
      FROM orders GROUP BY o_orderpriority
    )
    SELECT e.o_orderpriority, e.exact_distinct, s.n_seen, s.kth_hash,
           floor(s.kmv_estimate * 100) / 100 AS kmv_estimate
    FROM kmv s JOIN exact e ON s.o_orderpriority = e.o_orderpriority
    """,
)
def sketch_kmv_distinct(spark, sf_dir):
    """K-Minimum-Values distinct customers per order priority
    (operators/sketches.kmv_distinct, k=64) next to the exact count.
    ``kth_hash`` is the exact-integer sketch state (-1 when the group
    held fewer than k distinct values and the count is exact); the
    estimate divides two exactly-representable values once, so the
    floor-quantized double matches any engine. The map-side distinct
    pre-aggregation keeps the per-group window over distinct hashes,
    not rows."""
    o = _t(spark, sf_dir, "orders")
    est = SK.kmv_distinct(o, "o_custkey", ["o_orderpriority"], k=64)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "exact_distinct",
        "n_seen",
        "kth_hash",
        quantize(F.col("kmv_estimate"), 2).alias("kmv_estimate"),
    )


# Run-scoped scratch root for the queries with filesystem side effects
# (TSV/ORC round trips, the streaming staged inputs). One mkdtemp per
# process, deterministic subdirs inside, removed at interpreter exit -
# repeated invocations (SPARK_GRAFT_BENCH_REPEAT) overwrite in place
# instead of leaking a directory tree per run (ADVICE r4).
_RUN_TMP_ROOT: str | None = None


def _run_tmp(sub: str) -> str:
    global _RUN_TMP_ROOT
    if _RUN_TMP_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _RUN_TMP_ROOT = tempfile.mkdtemp(prefix="spark_graft_run_")
        atexit.register(shutil.rmtree, _RUN_TMP_ROOT, ignore_errors=True)
    import os

    path = os.path.join(_RUN_TMP_ROOT, sub)
    os.makedirs(path, exist_ok=True)
    return path


@register(
    "stream_interval_join",
    """
    SELECT s.user_id AS l_user, epoch_us(s.ts) AS l_ts_us,
           e.event_id AS r_event_id, epoch_us(e.ts) AS r_ts_us,
           round(e.value, 2) AS r_value
    FROM (SELECT user_id, ts FROM events
          WHERE event_type = 'signup' AND ts IS NOT NULL) s
    JOIN (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL) e
      ON e.user_id = s.user_id
     AND e.ts >= s.ts AND e.ts <= s.ts + INTERVAL 1 DAY
    """,
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream event-time interval join, RUN AS A REAL STREAM
    (streaming/ingest.stream_stream_interval_join; VERDICT r4 #3):
    signups and purchases are staged to parquet, read back as two file
    streams, joined within [signup.ts, signup.ts + 1 day] on user_id
    under an availableNow trigger into a memory sink, and the sink's
    rows are returned. The oracle is the plain interval SQL - the same
    attribution semantics range_interval_join pins for the batch twin.
    Each side is staged as ONE file so the availableNow run is a single
    deterministic micro-batch (the wide watermark then never drops a
    row; batch-vs-stream parity over multi-batch schedules is pinned in
    tests/test_streaming_stateful.py). The memory-sink collect is the
    correctness-gate surface only - production runs write to a real
    sink with the identical plan."""
    import itertools
    import os

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    import re

    global _STREAM_SEQ, _STREAM_STAGED
    try:
        seq = next(_STREAM_SEQ)
    except NameError:
        _STREAM_SEQ = itertools.count(1)
        _STREAM_STAGED = set()
        seq = 0
    # staging is keyed per sf_dir and written once per process (the
    # staged sides are a pure function of the immutable testdata -
    # repeat invocations measure the stream, not the setup)
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"ssj_{tag}")
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(
        (F.col("event_type") == "signup") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    right = ev.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    ldir, rdir = os.path.join(root, "l"), os.path.join(root, "r")
    if sf_dir not in _STREAM_STAGED:
        left.coalesce(1).write.mode("overwrite").parquet(ldir)
        right.coalesce(1).write.mode("overwrite").parquet(rdir)
        _STREAM_STAGED.add(sf_dir)
    joined = stream_stream_interval_join(
        spark.readStream.schema(left.schema).parquet(ldir),
        spark.readStream.schema(right.schema).parquet(rdir),
        key_col="user_id",
        watermark="30 days",
        lower="0 seconds",
        upper="1 day",
    )
    name = f"ssj_sink_{seq}"
    # state-partition count is fixed per checkpoint at stream start; a
    # stream-stream join keeps FOUR state stores per partition, so size
    # it to the staged single-batch volume (32 -> 8 cut the run 6.5s ->
    # 2.5s: pure state-store bookkeeping, zero data cost). Production
    # checkpoints size their own from their session conf.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", os.path.join(root, f"ck_{seq}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        F.col("l_user_id").alias("l_user"),
        F.unix_micros(F.col("l_ts")).alias("l_ts_us"),
        "r_event_id",
        F.unix_micros(F.col("r_ts")).alias("r_ts_us"),
        F.round(F.col("r_value"), 2).alias("r_value"),
    )


@register(
    "stream_dedup_ingest",
    """
    SELECT DISTINCT event_id, user_id, epoch_us(ts) AS ts_us,
           event_type, round(value, 2) AS value
    FROM events WHERE ts IS NOT NULL
    """,
)
def stream_dedup_ingest(spark, sf_dir):
    """Streaming dedup-on-ingest RUN AS A REAL STREAM
    (streaming/ingest.stream_distinct): the events table is staged
    DOUBLED (every row twice - the re-crawl/replay shape), file-stream
    read, full-row dropDuplicates under a 30-day watermark with an
    availableNow trigger into a memory sink. The oracle is plain
    SELECT DISTINCT over the original table: full-row dedup keys make
    the survivor set deterministic regardless of arrival order (the
    operator's documented contract). Same staging memo / scoped
    state-partition conf as stream_interval_join."""
    import itertools
    import os
    import re

    from ghcrawler_datalake_etl_spark.streaming.ingest import stream_distinct

    global _SDD_SEQ, _SDD_STAGED
    try:
        seq = next(_SDD_SEQ)
    except NameError:
        _SDD_SEQ = itertools.count(1)
        _SDD_STAGED = set()
        seq = 0
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"sdd_{tag}")
    src = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            F.round(F.col("value"), 2).alias("value"),
        )
    )
    sdir = os.path.join(root, "in")
    if sf_dir not in _SDD_STAGED:
        src.unionAll(src).coalesce(1).write.mode("overwrite").parquet(sdir)
        _SDD_STAGED.add(sf_dir)
    deduped = stream_distinct(
        spark.readStream.schema(src.schema).parquet(sdir),
        ts_col="ts",
        watermark="30 days",
    )
    name = f"sdd_sink_{seq}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, f"ck_{seq}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    )


@register("stream_lsh_dedup", _incremental_lsh_oracle())
def stream_lsh_dedup(spark, sf_dir):
    """Round-9: dedup_incremental_index RUN AS A REAL STREAM - the
    arriving batch (doc_id % 10 >= 8) is staged as TWO parquet files,
    file-stream read one file per trigger (so the screen provably
    works across micro-batch boundaries), and each micro-batch dedups
    against the SAME persisted corpus LSH index through foreachBatch
    (streaming/ingest.stream_incremental_dedup) with idempotent
    per-micro-batch parquet output. The oracle is identical to the
    batch query's: every batch doc meets the full index regardless of
    which micro-batch carries it, so the union of per-batch matches is
    the batch answer exactly. Same staging memo pattern as
    stream_dedup_ingest."""
    import itertools
    import os
    import re

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_incremental_dedup,
    )

    global _SLD_SEQ, _SLD_STAGED
    try:
        seq = next(_SLD_SEQ)
    except NameError:
        _SLD_SEQ = itertools.count(1)
        _SLD_STAGED = set()
        seq = 0
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"sld_{tag}")
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")
    sdir = os.path.join(root, "in")
    idir = os.path.join(root, "idx")
    if sf_dir not in _SLD_STAGED:
        batch.repartition(2).write.mode("overwrite").parquet(sdir)
        DD.lsh_band_index(
            corpus, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).write.mode("overwrite").parquet(idir)
        _SLD_STAGED.add(sf_dir)
    index = spark.read.parquet(idir)
    out = os.path.join(root, f"out_{seq}")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_incremental_dedup(
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir),
            index,
            corpus,
            "doc_id",
            "text",
            out,
            os.path.join(root, f"ck_{seq}"),
            n=3,
            num_hashes=32,
            bands=8,
            threshold=0.5,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # an EMPTY arriving split produces zero micro-batches, so the sink
    # dir is never created - a quiet day is an empty result, not a
    # read error (pinned by the null-text degenerate suite)
    if not os.path.isdir(out) or not any(
        f.startswith("micro_batch=") for f in os.listdir(out)
    ):
        return spark.createDataFrame(
            [], "batch_id long, dup_of long, jaccard double"
        )
    return spark.read.parquet(out).select("batch_id", "dup_of", "jaccard")


@register(
    "stream_cluster_maintenance",
    f"""
    WITH RECURSIVE mh_pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def stream_cluster_maintenance(spark, sf_dir):
    """Round-10: dedup_incremental_clusters RUN AS A REAL STREAM - the
    full standing-state loop per micro-batch: the arriving split
    (doc_id % 10 >= 8) staged as TWO files, one per trigger; each
    trigger screens against the persisted corpus LSH index keeping ALL
    verified matches, pairs within itself, folds both edge sets into
    the labels table through incremental_components(changed_only) +
    the catalog's bucket-pruned merge_upsert, and DELTA-APPENDS its
    signatures/text to the store so the second trigger deduplicates
    against the first (cross-trigger duplicates cluster - pinned by
    the operator test). The oracle is the full recursive-CTE
    re-clustering of ALL pairs: whatever micro-batch boundaries the
    stream cut, the standing table must equal the batch answer."""
    import itertools
    import os
    import re

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog
    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_cluster_maintenance as _scm,
    )

    global _SCM_SEQ, _SCM_STAGED
    try:
        seq = next(_SCM_SEQ)
    except NameError:
        _SCM_SEQ = itertools.count(1)
        _SCM_STAGED = set()
        seq = 0
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"scm_{tag}")
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")
    sdir = os.path.join(root, "in")
    idir = os.path.join(root, "idx_base")
    ldir = os.path.join(root, "labels_base")
    if sf_dir not in _SCM_STAGED:
        batch.repartition(2).write.mode("overwrite").parquet(sdir)
        DD.lsh_band_index(
            corpus, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).write.mode("overwrite").parquet(idir)
        # bootstrap labels: connected components over the
        # corpus-internal pairs, sliced from the SAME materialized
        # full-pair frame the other minhash queries share (identical
        # args -> identical cache slot); staged once per sf - the
        # standing state is deterministic, only the stream re-runs
        pairs = DD.minhash_lsh_pairs(
            d, "doc_id", "text", n=3, num_hashes=32, bands=8,
            threshold=0.5, materialize_result=True,
        )
        corpus_pairs = pairs.filter(
            (F.col("id_a") % 10 < 8) & (F.col("id_b") % 10 < 8)
        )
        DD.connected_components(corpus_pairs).write.mode(
            "overwrite"
        ).parquet(ldir)
        # bootstrap the standing labels CATALOG once per sf too: the
        # per-run copy below is a metadata-sized file copy instead of
        # re-running the bucketed merge every invocation
        ParquetCatalog(
            spark, os.path.join(root, "wh_base")
        ).merge_upsert(
            spark.read.parquet(ldir), "labels", ["node"], num_buckets=8
        )
        _SCM_STAGED.add(sf_dir)
    index = spark.read.parquet(idir)
    import shutil

    wh = os.path.join(root, f"wh_{seq}")
    if not os.path.isdir(wh):
        shutil.copytree(os.path.join(root, "wh_base"), wh)
    cat = ParquetCatalog(spark, wh)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = _scm(
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir),
            index,
            corpus,
            cat,
            "labels",
            os.path.join(root, f"store_{seq}"),
            os.path.join(root, f"ck_{seq}"),
            "doc_id",
            "text",
            n=3,
            num_hashes=32,
            bands=8,
            threshold=0.5,
            num_buckets=8,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return cat.read("labels").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@register(
    "stream_hll_distinct",
    f"""
    WITH src AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id AS v
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    {SK.hll_oracle_sql("src", "v", ["day"])},
    exact AS (
      SELECT day, cast(count(DISTINCT v) AS BIGINT) AS exact_distinct
      FROM src GROUP BY day
    )
    SELECT h.day, e.exact_distinct, h.n_registers, h.register_sum,
           floor(h.hll_estimate * 100) / 100 AS hll_estimate
    FROM hll_est h JOIN exact e ON h.day = e.day
    """,
)
def stream_hll_distinct(spark, sf_dir):
    """Daily-active-users HLL RUN AS A REAL STREAM
    (streaming/ingest.stream_hll_registers): events file-streamed
    under an availableNow trigger, per-day (bucket, max-rho) register
    state maintained by the streaming aggregation into a complete-mode
    memory sink, then the estimate rolled up BATCH-side from the tiny
    register table (sketches.hll_estimate_from_registers) - the
    production shape where the stream keeps registers current and
    dashboards query estimates on demand. The oracle replays the
    identical per-day sketch from the raw table: register_sum matching
    bit-for-bit proves the streaming-maintained state equals the batch
    sketch of the same data. Same staging-memo / scoped
    state-partition conf as the other streaming queries."""
    import itertools
    import os
    import re

    from ghcrawler_datalake_etl_spark.streaming.ingest import (
        stream_hll_registers,
    )

    global _SHD_SEQ, _SHD_STAGED
    try:
        seq = next(_SHD_SEQ)
    except NameError:
        _SHD_SEQ = itertools.count(1)
        _SHD_STAGED = set()
        seq = 0
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    root = _run_tmp(f"shd_{tag}")
    src = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    sdir = os.path.join(root, "in")
    if sf_dir not in _SHD_STAGED:
        src.coalesce(1).write.mode("overwrite").parquet(sdir)
        _SHD_STAGED.add(sf_dir)
    regs = stream_hll_registers(
        spark.readStream.schema(src.schema).parquet(sdir),
        "user_id",
        ts_col="ts",
        window_duration="1 day",
        watermark="1 day",
    )
    name = f"shd_sink_{seq}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            regs.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(root, f"ck_{seq}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    day_regs = spark.table(name).select(
        F.col("window_start").cast("date").cast("string").alias("day"),
        "bucket",
        "m_rho",
    )
    est = SK.hll_estimate_from_registers(day_regs, ["day"])
    exact = (
        src.filter(F.col("user_id").isNotNull())
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "day").select(
        "day",
        "exact_distinct",
        "n_registers",
        "register_sum",
        quantize(F.col("hll_estimate"), 2).alias("hll_estimate"),
    )


@register(
    "tsv_round_trip",
    """
    SELECT event_id, user_id,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE event_type END AS tag,
           value, value > 5 AS big, epoch_us(ts) AS ts_us
    FROM events
    """,
)
def tsv_round_trip(spark, sf_dir):
    """Typed TSV export/re-ingest round trip (sources/sinks.write_tsv +
    read_tsv - S7 and its Extractors.Tsv complement,
    /root/reference/USQL/GetRepoData-unused.usql:17-19): write a typed
    events projection to TSV, read it back under the exported schema,
    return the re-ingested frame. The oracle states the round-trip
    CONTRACT directly: every typed column survives exactly (longs,
    doubles via shortest-round-trip repr, booleans, timestamps as epoch
    micros) and the documented lossy arm - TSV cannot distinguish ''
    from NULL - collapses the injected empty strings to NULL (the
    'error' rows)."""
    from ghcrawler_datalake_etl_spark.sources.sinks import read_tsv, write_tsv

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(""))
        .otherwise(F.col("event_type"))
        .alias("tag"),
        "value",
        (F.col("value") > 5).alias("big"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    out = _run_tmp("tsv_rt")
    write_tsv(ev, out)
    return read_tsv(spark, out, ev.schema)


@register(
    "jsonl_round_trip",
    """
    SELECT event_id, user_id,
           CASE WHEN event_type = 'error' THEN ''
                ELSE event_type END AS tag,
           CASE WHEN event_type = 'signup' THEN NULL
                ELSE event_type END AS maybe_type,
           value, value > 5 AS big, epoch_us(ts) AS ts_us
    FROM events
    """,
)
def jsonl_round_trip(spark, sf_dir):
    """Typed JSONL export/re-ingest round trip (sources/sinks.
    write_jsonl + read_jsonl) - the training-data interchange format
    beside the TSV edge format. The oracle states the LOSSLESS
    contract: where tsv_round_trip's oracle documents the ''-to-NULL
    collapse, this one keeps BOTH arms distinct - the injected empty
    strings ('error' rows, ``tag``) survive as '' and the injected
    NULLs ('signup' rows, ``maybe_type``) survive as NULL - plus exact
    longs, shortest-repr doubles, booleans and epoch-micro
    timestamps."""
    from ghcrawler_datalake_etl_spark.sources.sinks import (
        read_jsonl,
        write_jsonl,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(""))
        .otherwise(F.col("event_type"))
        .alias("tag"),
        F.when(F.col("event_type") == "signup", F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("maybe_type"),
        "value",
        (F.col("value") > 5).alias("big"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    out = _run_tmp("jsonl_rt")
    write_jsonl(ev, out)
    return read_jsonl(spark, out, ev.schema)


@register(
    "orc_catalog_roundtrip",
    """
    SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def orc_catalog_roundtrip(spark, sf_dir):
    """ORC-backed catalog snapshot write + read-back (sources/sinks.
    ParquetCatalog(data_format='orc') - the catalog is format-blind:
    pointer-swap versioning, overwrite, and merge all operate on file
    layout, S4-S6). The query overwrites a supplier projection into a
    fresh ORC warehouse and returns the catalog read; the oracle is the
    projection itself - ORC round-trips every type exactly (no TSV-style
    text collapse), which is why the reference keeps columnar formats
    for snapshots and TSV only at the export edge."""
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    proj = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round(F.col("s_acctbal"), 2).alias("acctbal"),
    )
    wh = _run_tmp("orc_wh")
    cat = ParquetCatalog(spark, wh, data_format="orc")
    cat.overwrite(proj, "SupplierSnapshot")
    return cat.read("SupplierSnapshot")


# =====================================================================
# Data-quality validation (operators/quality.py - Deequ-style suite)
# =====================================================================

@register(
    "dq_validate_orders",
    """
    WITH m AS (
      SELECT count(*)                                            AS n,
             count(o_custkey)                                    AS n_ck,
             count(o_orderkey)                                   AS n_ok,
             count(DISTINCT o_orderkey)                          AS n_okd,
             min(o_totalprice)                                   AS min_tp,
             max(o_totalprice)                                   AS max_tp,
             count(o_orderstatus)                                AS n_st,
             count(CASE WHEN o_orderstatus IN ('F','O','P')
                        THEN 1 END)                              AS n_stin,
             count(o_orderpriority)                              AS n_pr,
             count(CASE WHEN regexp_matches(o_orderpriority,
                        '^[1-5]-[A-Z ]+$') THEN 1 END)           AS n_prm,
             count(o_orderdate)                                  AS n_od
      FROM orders
    ), r AS (
      SELECT count(*) AS nf, count(d.c) AS nin
      FROM (SELECT o_custkey AS k FROM orders
            WHERE o_custkey IS NOT NULL) f
      LEFT JOIN (SELECT DISTINCT c_custkey AS c FROM customer
                 WHERE c_custkey IS NOT NULL) d ON f.k = d.c
    )
    SELECT check_name, metric,
           CASE WHEN metric IS NULL THEN true ELSE ok END AS passed
    FROM (
      SELECT 'completeness(o_custkey)' AS check_name,
             CASE WHEN n > 0
                  THEN floor(n_ck::DOUBLE / n * 1e6) / 1e6 END AS metric,
             CASE WHEN n > 0
                  THEN floor(n_ck::DOUBLE / n * 1e6) / 1e6 >= 0.99
                  END AS ok
      FROM m
      UNION ALL
      SELECT 'uniqueness(o_orderkey)',
             CASE WHEN n_ok > 0
                  THEN floor(n_okd::DOUBLE / n_ok * 1e6) / 1e6 END,
             CASE WHEN n_ok > 0
                  THEN floor(n_okd::DOUBLE / n_ok * 1e6) / 1e6 >= 1.0 END
      FROM m
      UNION ALL
      SELECT 'minimum(o_totalprice)',
             floor(min_tp * 1e6) / 1e6,
             floor(min_tp * 1e6) / 1e6 >= 0.0
      FROM m
      UNION ALL
      SELECT 'maximum(o_totalprice)',
             floor(max_tp * 1e6) / 1e6,
             floor(max_tp * 1e6) / 1e6 <= 600000.0
      FROM m
      UNION ALL
      SELECT 'contained_in(o_orderstatus)',
             CASE WHEN n_st > 0
                  THEN floor(n_stin::DOUBLE / n_st * 1e6) / 1e6 END,
             CASE WHEN n_st > 0
                  THEN floor(n_stin::DOUBLE / n_st * 1e6) / 1e6 >= 1.0 END
      FROM m
      UNION ALL
      SELECT 'matches_pattern(o_orderpriority)',
             CASE WHEN n_pr > 0
                  THEN floor(n_prm::DOUBLE / n_pr * 1e6) / 1e6 END,
             CASE WHEN n_pr > 0
                  THEN floor(n_prm::DOUBLE / n_pr * 1e6) / 1e6 >= 1.0 END
      FROM m
      UNION ALL
      SELECT 'completeness(o_orderdate)',
             CASE WHEN n > 0
                  THEN floor(n_od::DOUBLE / n * 1e6) / 1e6 END,
             CASE WHEN n > 0
                  THEN floor(n_od::DOUBLE / n * 1e6) / 1e6 >= 1.0 END
      FROM m
      UNION ALL
      SELECT 'referential(o_custkey in c_custkey)',
             CASE WHEN nf > 0
                  THEN floor(nin::DOUBLE / nf * 1e6) / 1e6 END,
             CASE WHEN nf > 0
                  THEN floor(nin::DOUBLE / nf * 1e6) / 1e6 >= 1.0 END
      FROM r
    )
    """,
)
def dq_validate_orders(spark, sf_dir):
    """Deequ-style one-pass data-quality suite over orders
    (operators/quality.py). The reference enforces these invariants
    implicitly - EntityName guards and latest-wins RowNumber==1 filters
    in USQL/CreateAndInitializeRepo.usql:118,249 drop violators
    silently; this surfaces them as per-batch metrics instead. Seven
    single-pass checks (completeness / uniqueness / min / max /
    containment / pattern / completeness) ride ONE aggregation job;
    the referential check joins left_semi against the customer
    dimension (broadcast at these sizes, AQE-planned at real ones) and
    unions the same row shape."""
    from ghcrawler_datalake_etl_spark.operators import quality as DQ

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    checks = [
        DQ.completeness("o_custkey", minimum=0.99),
        DQ.uniqueness("o_orderkey", minimum=1.0),
        DQ.minimum_of("o_totalprice", minimum=0.0),
        DQ.maximum_of("o_totalprice", maximum=600000.0),
        DQ.contained_in("o_orderstatus", ["F", "O", "P"], minimum=1.0),
        DQ.matches_pattern("o_orderpriority", "^[1-5]-[A-Z ]+$", minimum=1.0),
        DQ.completeness("o_orderdate", minimum=1.0),
    ]
    base = DQ.validate(orders, checks)
    ref = DQ.referential_containment(
        orders, "o_custkey", customer, "c_custkey", minimum=1.0
    )
    return base.unionByName(ref)


@register(
    "dq_drift_by_day",
    """
    WITH e AS (
      SELECT ts, user_id,
             CASE WHEN extract(day FROM ts) % 5 = 2 AND event_id % 2 = 0
                  THEN NULL ELSE value END AS value
      FROM events
      WHERE ts IS NOT NULL
        AND NOT (extract(day FROM ts) % 7 = 3 AND event_id % 5 <> 0)
    ), p AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
             count(DISTINCT user_id) AS n_keys,
             floor(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::DOUBLE
                   / count(*) * 1000000) / 1000000 AS null_frac
      FROM e GROUP BY 1
    ), r AS (
      SELECT day, n_rows, n_keys, null_frac,
             lag(n_rows) OVER (ORDER BY day) AS prev_rows,
             lag(null_frac) OVER (ORDER BY day) AS prev_frac
      FROM p
    )
    SELECT day, n_rows, n_keys, null_frac,
           CASE WHEN prev_rows IS NOT NULL
                THEN floor(n_rows::DOUBLE / prev_rows * 1000000)
                     / 1000000 END AS row_ratio,
           CASE WHEN prev_rows IS NULL THEN false
                ELSE (n_rows::DOUBLE > 2.0::DOUBLE * prev_rows
                      OR 2.0::DOUBLE * n_rows < prev_rows::DOUBLE) END
             AS row_count_anomaly,
           CASE WHEN prev_frac IS NULL THEN false
                ELSE null_frac - prev_frac > 0.1::DOUBLE END
             AS null_frac_jump
    FROM r
    """,
)
def dq_drift_by_day(spark, sf_dir):
    """Round-11: day-over-day drift detection
    (operators/quality.drift_report) - the monitoring complement of
    dq_validate_orders' absolute checks: each day's profile (row
    count, distinct users, value-null fraction - all integer-derived,
    deliberately no order-dependent double sums) compared to the
    previous day's, flagging row counts outside [prev/2, prev*2] and
    null-fraction jumps > 0.1. The synthetic events feed is uniform,
    so the query INJECTS deterministic incidents first: days with
    dom % 7 = 3 keep only event_id % 5 = 0 (a feed crash + next-day
    recovery - both ratio directions fire), and days with dom % 5 = 2
    null out value for even event ids (a column going dark). NULL
    timestamps are excluded explicitly (NULL-ordering divergence in
    the lag window)."""
    from ghcrawler_datalake_etl_spark.operators import quality as DQ

    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    dom = F.dayofmonth("ts")
    inj = e.filter(
        ~((dom % 7 == 3) & (F.col("event_id") % 5 != 0))
    ).select(
        "ts",
        "user_id",
        F.when(
            (dom % 5 == 2) & (F.col("event_id") % 2 == 0), F.lit(None)
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return DQ.drift_report(
        inj, "ts", "user_id", "value",
        row_ratio_tol=2.0, null_frac_jump=0.1,
    )


# =====================================================================
# Time-series densification (operators/temporal.gap_fill)
# =====================================================================

@register(
    "timeseries_gap_fill",
    """
    WITH base AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    ), bounds AS (
      SELECT min(bucket) AS lo, max(bucket) AS hi FROM base
    ), spine AS (
      SELECT k.event_type, s.b AS bucket
      FROM (SELECT DISTINCT event_type FROM base) k
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                  AS b FROM bounds) s
    )
    SELECT sp.event_type, epoch_us(sp.bucket) AS bucket_us,
           coalesce(b.n_events, 0) AS n_events,
           coalesce(b.sum_value, 0.0) AS sum_value
    FROM spine sp
    LEFT JOIN base b
      ON sp.event_type IS NOT DISTINCT FROM b.event_type
     AND sp.bucket = b.bucket
    """,
)
def timeseries_gap_fill(spark, sf_dir):
    """Hourly event rollup densified onto a gap-free calendar spine
    (operators/temporal.gap_fill) - the zero-fill complement of
    locf_fill_forward. The reference's traffic scripts aggregate only
    the days that occur (USQL/CreateAndInitializeRepo.usql has no
    calendar spine - missing days silently vanish from its outputs);
    a training-data telemetry pipeline needs explicit zeros to tell
    'no data' apart from 'no rows yet'. Missing (event_type, hour)
    cells appear with n_events=0 / sum_value=0.0; NULL timestamps are
    dropped by contract."""
    from ghcrawler_datalake_etl_spark.operators.temporal import gap_fill

    ev = _t(spark, sf_dir, "events")
    out = gap_fill(
        ev,
        "ts",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
        unit="hour",
        fill={"n_events": 0, "sum_value": 0.0},
    )
    return out.select(
        "event_type",
        F.unix_micros(F.col("bucket")).alias("bucket_us"),
        "n_events",
        "sum_value",
    )


# =====================================================================
# SCD2 dimension build (operators/temporal.scd2_intervals)
# =====================================================================

@register(
    "dim_scd2_user_state",
    """
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                  lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, event_type, ts, event_id,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM e
    ), runs AS (
      SELECT user_id, island,
             min(ts) AS valid_from,
             max(event_type) AS event_type,
             count(*) AS n_rows
      FROM g GROUP BY user_id, island
    )
    SELECT user_id, event_type,
           epoch_us(valid_from) AS valid_from_us,
           epoch_us(lead(valid_from) OVER wi) AS valid_to_us,
           n_rows,
           lead(valid_from) OVER wi IS NULL AS is_current
    FROM runs
    WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    """,
)
def dim_scd2_user_state(spark, sf_dir):
    """SCD type-2 dimension built from the event log
    (operators/temporal.scd2_intervals): per user, consecutive runs of
    the same event_type collapse to [valid_from, valid_to) intervals
    with is_current on the open one - the warehouse-shaped complement
    of the reference's read-time latest-wins versioning
    (USQL/CreateAndInitializeRepo.usql:122-127 keeps all version rows
    and filters RowNumber == 1 per read). One shuffle on user_id; the
    lag, running island sum, per-island aggregate and island lead all
    reuse that partitioning."""
    from ghcrawler_datalake_etl_spark.operators.temporal import (
        scd2_intervals,
    )

    ev = _t(spark, sf_dir, "events")
    out = scd2_intervals(ev, ["user_id"], "event_type", "ts", "event_id")
    return out.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
        "n_rows",
        "is_current",
    )


# =====================================================================
# Graph ranking (operators/graph.pagerank)
# =====================================================================

@register(
    "graph_pagerank_transitions",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN json_valid(props)
                  THEN TRY_CAST(json_extract_string(props, '$.k')
                                AS BIGINT) END AS k
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), tr AS (
      SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             k AS dst
      FROM seq
    ), ew AS (
      SELECT src, dst, count(*) AS w FROM tr
      WHERE src IS NOT NULL AND dst IS NOT NULL GROUP BY 1, 2
    ), ow AS (
      SELECT src, sum(w) AS out_w FROM ew GROUP BY 1
    ), nodes AS (
      SELECT DISTINCT node FROM
        (SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)
    ), params AS (
      SELECT count(*) AS n,
             (15 * 1000000000000) // (100 * count(*)) AS base
      FROM nodes
    ), r0 AS (
      SELECT node, 1000000000000 // n AS rank
      FROM nodes CROSS JOIN params
    ), c1 AS (
      SELECT e.dst AS node, sum((r.rank * e.w) // o.out_w) AS m
      FROM ew e JOIN r0 r ON e.src = r.node JOIN ow o ON e.src = o.src
      GROUP BY 1
    ), r1 AS (
      SELECT nodes.node, base + (85 * coalesce(c1.m, 0)) // 100 AS rank
      FROM nodes CROSS JOIN params LEFT JOIN c1 ON nodes.node = c1.node
    ), c2 AS (
      SELECT e.dst AS node, sum((r.rank * e.w) // o.out_w) AS m
      FROM ew e JOIN r1 r ON e.src = r.node JOIN ow o ON e.src = o.src
      GROUP BY 1
    ), r2 AS (
      SELECT nodes.node, base + (85 * coalesce(c2.m, 0)) // 100 AS rank
      FROM nodes CROSS JOIN params LEFT JOIN c2 ON nodes.node = c2.node
    ), c3 AS (
      SELECT e.dst AS node, sum((r.rank * e.w) // o.out_w) AS m
      FROM ew e JOIN r2 r ON e.src = r.node JOIN ow o ON e.src = o.src
      GROUP BY 1
    ), r3 AS (
      SELECT nodes.node, base + (85 * coalesce(c3.m, 0)) // 100 AS rank
      FROM nodes CROSS JOIN params LEFT JOIN c3 ON nodes.node = c3.node
    )
    SELECT node, CAST(rank AS BIGINT) AS rank_scaled FROM r3
    """,
)
def graph_pagerank_transitions(spark, sf_dir):
    """PageRank over the user-timeline transition graph
    (operators/graph.pagerank): nodes are the props.k values, a
    directed edge src->dst for every consecutive event pair in a
    user's (ts, event_id) order, parallel transitions merged into
    weights. Integer-scaled fixed point (scale 1e12, damping 85/100,
    3 synchronous rounds) so the DuckDB oracle replays every division
    exactly - see the module docstring for the truncation contract.
    NULL-k events stay in the sequence and break chains (transitions
    into and out of them are dropped, never bridged)."""
    from ghcrawler_datalake_etl_spark.operators.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k")
        .try_cast("bigint")
        .alias("k"),
    )
    tr = seq.select(
        F.lag("k").over(w).alias("src"), F.col("k").alias("dst")
    )
    return pagerank(tr, "src", "dst", iterations=3).select(
        "node", "rank_scaled"
    )


# =====================================================================
# Z-order layout (operators/layout.py)
# =====================================================================

@register(
    "layout_zorder_buckets",
    """
    WITH base AS (
      SELECT o_custkey AS ck,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS dy
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    ), b AS (
      SELECT min(ck) AS lo0, max(ck) AS hi0,
             min(dy) AS lo1, max(dy) AS hi1
      FROM base
    ), norm AS (
      SELECT CASE WHEN hi0 > lo0
                  THEN ((ck - lo0) * 65535) // (hi0 - lo0)
                  ELSE 0 END AS x,
             CASE WHEN hi1 > lo1
                  THEN ((dy - lo1) * 65535) // (hi1 - lo1)
                  ELSE 0 END AS y,
             ck, dy
      FROM base CROSS JOIN b
    ), s1 AS (
      SELECT (x | (x << 8)) & 16711935 AS x,
             (y | (y << 8)) & 16711935 AS y, ck, dy FROM norm
    ), s2 AS (
      SELECT (x | (x << 4)) & 252645135 AS x,
             (y | (y << 4)) & 252645135 AS y, ck, dy FROM s1
    ), s3 AS (
      SELECT (x | (x << 2)) & 858993459 AS x,
             (y | (y << 2)) & 858993459 AS y, ck, dy FROM s2
    ), s4 AS (
      SELECT (x | (x << 1)) & 1431655765 AS x,
             (y | (y << 1)) & 1431655765 AS y, ck, dy FROM s3
    ), z AS (
      SELECT (x | (y << 1)) AS zkey, ck, dy FROM s4
    )
    SELECT zkey >> 22 AS bucket, count(*) AS n_orders,
           min(ck) AS min_cust, max(ck) AS max_cust,
           min(dy) AS min_day, max(dy) AS max_day
    FROM z GROUP BY 1
    """,
)
def layout_zorder_buckets(spark, sf_dir):
    """Z-order (Morton) clustering stats over orders
    (operators/layout.zorder_key + minmax_scale16): both dimensions
    (o_custkey, order-day) are min/max-scaled onto the full 16-bit
    budget (raw keys leave the high interleaved bits constant and the
    ranges degenerate to one dimension - measured before the scaling
    step landed), interleaved, and cut into 1024 contiguous z-ranges
    (the file boundaries write_zordered would produce); each range
    reports its bounding box in BOTH dimensions - the min/max footer
    stats a scan would prune on. The reference clusters
    one-dimensionally (DISTRIBUTED BY HASH ... CLUSTERED BY in
    USQL/CreateAndInitializeRepo.usql); the z-key makes the second
    dimension prunable too. Integer arithmetic replayed exactly by the
    oracle; NULL keys dropped by contract."""
    from ghcrawler_datalake_etl_spark.operators.layout import (
        minmax_scale16,
        zorder_key,
    )

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    base = o.where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("ck"),
        day.cast("long").alias("dy"),
    )
    bounds = base.agg(
        F.min("ck").alias("_lo0"),
        F.max("ck").alias("_hi0"),
        F.min("dy").alias("_lo1"),
        F.max("dy").alias("_hi1"),
    )
    keyed = base.crossJoin(F.broadcast(bounds)).withColumn(
        "zkey",
        zorder_key(
            [
                minmax_scale16("ck", "_lo0", "_hi0"),
                minmax_scale16("dy", "_lo1", "_hi1"),
            ]
        ),
    )
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 22).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("ck").alias("min_cust"),
        F.max("ck").alias("max_cust"),
        F.min("dy").alias("min_day"),
        F.max("dy").alias("max_day"),
    )


# =====================================================================
# Sweep-line concurrency (operators/temporal.max_concurrency)
# =====================================================================

@register(
    "timeseries_max_concurrency",
    """
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ids AS (
      -- the running flag sum MUST replay the marked window's total
      -- (ts, event_id) order: under a leading-timestamp tie an
      -- ORDER BY ts_us alone could visit the 0-flag row first and
      -- split the tie rows into different sessions than Spark's
      -- sessionize_batch
      SELECT user_id, ts_us,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ), sess AS (
      SELECT min(ts_us) AS s, max(ts_us) AS e
      FROM ids GROUP BY user_id, session_id
    ), ep AS (
      SELECT s * 2 AS k, 1 AS d FROM sess
      UNION ALL
      SELECT e * 2 + 1 AS k, -1 AS d FROM sess
    ), run AS (
      SELECT k, CAST(sum(d) OVER (ORDER BY k) AS BIGINT) AS c FROM ep
    ), peak AS (
      SELECT CAST(max(c) AS BIGINT) AS max_concurrent FROM run
    )
    SELECT (SELECT count(*) FROM sess) AS n_intervals,
           peak.max_concurrent,
           (SELECT min(k) // 2 FROM run, peak WHERE c = max_concurrent)
             AS first_peak_us
    FROM peak
    """,
)
def timeseries_max_concurrency(spark, sf_dir):
    """Sweep-line maximum session concurrency
    (operators/temporal.max_concurrency over sessionize_batch output):
    how many 30-min-gap sessions are ever open at once, and when the
    peak first occurs. Closed-interval contract (+1 sorts before -1 at
    equal times via the 2t / 2t+1 key). The global running sum is the
    pack_shards two-level construction - binned RANGE windows plus a
    broadcast offsets frame - so no stage funnels the endpoint set
    through one task; DuckDB's default RANGE frame replays the tie
    semantics exactly."""
    from ghcrawler_datalake_etl_spark.operators.temporal import (
        max_concurrency,
    )

    ev = _t(spark, sf_dir, "events")
    sessions = sessionize_batch(ev, gap_minutes=30)
    return max_concurrency(
        sessions, "session_start_us", "session_end_us"
    )


# =====================================================================
# Perceptual-hash near-dup pairs (operators/multimodal.py)
# =====================================================================

@register(
    "multimodal_phash_pairs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents
      WHERE doc_id % 101 = 0
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(sha256(coalesce(text, '')), 1, 15))
                  AS BIGINT) AS ph
      FROM corpus
    ), b AS (
      SELECT doc_id, ph, i AS band_i,
             (ph >> (15 * i)) & 32767 AS band
      FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS i) bands
    )
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(bit_count(xor(a.ph, c.ph)) AS BIGINT) AS hamming
    FROM b a JOIN b c ON a.band_i = c.band_i AND a.band = c.band
                     AND a.doc_id < c.doc_id
    WHERE bit_count(xor(a.ph, c.ph)) <= 3
    """,
)
def multimodal_phash_pairs(spark, sf_dir):
    """Perceptual-hash (aHash) near-duplicate pairs
    (operators/multimodal.perceptual_hash + phash_pairs): the image
    twin of SimHash dedup. Text payloads are not images, so every row
    takes the sha256-surrogate hash arm - which the oracle replays
    exactly (the REAL decode->resize->threshold arm is pytest-pinned
    on planted near-identical PNG/JPEG fixtures in
    tests/test_extensions.py). The corpus has no byte-identical
    documents, so a deterministic duplicate slice (every 101st doc,
    re-keyed +1e7) is planted on BOTH sides - the surviving pairs are
    those plants at Hamming 0, driving the full band-join +
    xor-verify path non-vacuously. Candidates come from 4 pigeonhole
    band equi-joins, never all pairs."""
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents")
    planted = docs.where(F.col("doc_id") % 101 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    d = fan_out(docs.select("doc_id", "text").unionByName(planted))
    media = MM.attach_binary(d, "doc_id", "text")
    hashes = MM.perceptual_hash(media)
    return MM.phash_pairs(hashes, max_hamming=3)


# =====================================================================
# Audio analysis (operators/multimodal.audio_stats)
# =====================================================================

@register(
    "multimodal_audio_stats",
    """
    SELECT doc_id,
           strlen(coalesce(text, '')) * 5 AS duration_ms,
           floor(CAST(('0x' || substr(sha256(coalesce(text, '')), 1, 8))
                      AS BIGINT)::DOUBLE / 4294967296.0 * 1000000000)
             / 1000000000 AS rms,
           floor(CAST(('0x' || substr(sha256(coalesce(text, '')), 9, 8))
                      AS BIGINT)::DOUBLE / 4294967296.0 * 1000000000)
             / 1000000000 AS peak,
           floor(CAST(('0x' || substr(sha256(coalesce(text, '')), 17, 8))
                      AS BIGINT)::DOUBLE / 4294967296.0 * 1000000000)
             / 1000000000 AS silence_ratio
    FROM documents
    """,
)
def multimodal_audio_stats(spark, sf_dir):
    """Per-payload audio statistics (operators/multimodal.audio_stats):
    RMS energy, peak amplitude, and silence ratio from a REAL 16-bit
    PCM decode (codecs.wav_samples) - the analysis layer above
    multimodal_audio_chunks' duration-based segmentation. Text
    payloads are not WAVs, so every row rides the sha256-surrogate
    arm (disjoint digest bytes per statistic, the strlen*5 duration
    convention chunk_audio already uses), which the oracle replays
    exactly; the real arm is pytest-pinned on tone/silence fixtures
    (rms == amplitude/sqrt(2), peak == amplitude, silence flags)."""
    from ghcrawler_datalake_etl_spark.operators import multimodal as MM

    d = fan_out(_t(spark, sf_dir, "documents"))
    media = MM.attach_binary(d, "doc_id", "text", media_type="audio/fake")
    stats = MM.audio_stats(media)
    return stats.select(
        "doc_id",
        "duration_ms",
        quantize(F.col("rms"), 9).alias("rms"),
        quantize(F.col("peak"), 9).alias("peak"),
        quantize(F.col("silence_ratio"), 9).alias("silence_ratio"),
    )


# =====================================================================
# Small-file compaction (sources/sinks.ParquetCatalog.compact)
# =====================================================================

@register(
    "layout_compact_roundtrip",
    """
    SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
    FROM events
    """,
)
def layout_compact_roundtrip(spark, sf_dir):
    """Small-file compaction round trip (ParquetCatalog.compact - the
    OPTIMIZE shape): a typed events projection lands as 16 deliberate
    small files, compaction rewrites it to the byte-target file count
    as a NEW version behind the same atomic pointer flip the S5
    TRUNCATE+INSERT path uses, and the query returns the post-compact
    read. The oracle is the projection itself: compaction must be
    content-transparent. File-count/version/vacuum mechanics are
    pytest-pinned (tests/test_extensions.py)."""
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    wh = _run_tmp("compact_wh")
    cat = ParquetCatalog(spark, wh)
    # repartition plants the fragmentation (a narrow scan reads into
    # 1-2 partitions)
    cat.overwrite(ev.repartition(16), "EventsSnapshot")
    cat.compact("EventsSnapshot", target_bytes=1 << 30)
    return cat.read("EventsSnapshot")


# =====================================================================
# Systematic PPS sampling (operators/sampling.pps_systematic_sample)
# =====================================================================

@register(
    "sample_pps_systematic",
    """
    WITH w AS (
      SELECT doc_id, lang, source, n_chars,
             CASE WHEN n_chars IS NOT NULL AND n_chars > 0
                  THEN n_chars ELSE 0 END AS wt
      FROM documents
    ), c AS (
      SELECT doc_id, lang, source, n_chars, wt,
             coalesce(sum(wt) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cw
      FROM w
    ), t AS (
      SELECT sum(wt) AS tot FROM w
    )
    SELECT doc_id, lang, source, n_chars
    FROM c CROSS JOIN t
    WHERE tot > 0 AND ((cw + wt) * 64) // tot > (cw * 64) // tot
    """,
)
def sample_pps_systematic(spark, sf_dir):
    """Systematic probability-proportional-to-size sample of 64 docs
    weighted by n_chars (operators/sampling.pps_systematic_sample):
    the weighted-sampling-without-replacement member of the sample
    family. Entirely integer arithmetic - unlike
    Efraimidis-Spirakis exponential keys, whose float log/pow can
    never bit-match across engines - so the oracle replays the exact
    selection. The exclusive cumulative weight is pack_shards'
    two-level construction; NULL/non-positive weights never select."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return SP.pps_systematic_sample(d, "doc_id", "n_chars", 64)


# =====================================================================
# Edit-distance similarity join (operators/joins.edit_distance_join)
# =====================================================================

@register(
    "j7_edit_distance_join",
    """
    WITH c AS (
      SELECT c_custkey AS id, c_name AS s FROM customer
      WHERE c_name IS NOT NULL
    ), v AS (
      SELECT id, s, unnest(range(0, length(s) + 1)) AS i FROM c
    ), sigs AS (
      SELECT DISTINCT id, s,
             substr(s, 1, CAST(i AS INT))
               || substr(s, CAST(i + 2 AS INT)) AS vh
      FROM v
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM sigs a JOIN sigs b ON a.vh = b.vh AND a.id < b.id
    WHERE levenshtein(a.s, b.s) <= 1
    """,
)
def j7_edit_distance_join(spark, sf_dir):
    """Edit-distance self-join over customer names
    (operators/joins.edit_distance_join, deletion-neighborhood
    signatures a la FastSS/SymSpell): every pair within Levenshtein
    distance 1, candidates from ONE equi-join on single-deletion
    variant hashes, verified exactly. The synthetic Customer#NNNNNNNNN
    names make single-digit neighbors genuine distance-1 pairs AND
    share a constant 10-char prefix - the input that collapsed the
    initial prefix-segment scheme into an all-pairs join (272s at
    sf0.1; deletion variants key on everything EXCEPT the edited
    position, so they cannot degenerate on shared affixes). Both
    engines implement classic Levenshtein and the variant key is the
    raw string, so the oracle replays the pair set exactly."""
    from ghcrawler_datalake_etl_spark.operators.joins import (
        edit_distance_join,
    )

    cust = _t(spark, sf_dir, "customer")
    return edit_distance_join(cust, "c_custkey", "c_name", max_dist=1)


@register(
    "j8_edit_distance2_join",
    """
    WITH s0 AS (
      SELECT s_suppkey AS id, s_name AS s FROM supplier
      WHERE s_name IS NOT NULL
    ), v1 AS (
      SELECT id, s, unnest(range(0, length(s) + 1)) AS i FROM s0
    ), d1 AS (
      SELECT DISTINCT id, s,
             substr(s, 1, CAST(i AS INT))
               || substr(s, CAST(i + 2 AS INT)) AS v
      FROM v1
    ), v2 AS (
      SELECT id, s, v, unnest(range(0, length(v) + 1)) AS j FROM d1
    ), sigs AS (
      SELECT DISTINCT id, s,
             substr(v, 1, CAST(j AS INT))
               || substr(v, CAST(j + 2 AS INT)) AS vh
      FROM v2
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM sigs a JOIN sigs b ON a.vh = b.vh AND a.id < b.id
    WHERE levenshtein(a.s, b.s) <= 2
    """,
)
def j8_edit_distance2_join(spark, sf_dir):
    """Radius-2 edit-distance self-join (round-6: the max_dist=2 arm
    of operators/joins.edit_distance_join) over supplier names: the
    <=2-deletion FastSS neighborhood, candidates from one equi-join on
    the variant hash, pair-deduped BEFORE the exact levenshtein verify
    (a d=2 collision only bounds the distance by 4, so most collisions
    are rejects). Supplier#NNNNNNNNN names share a constant 9-15 char
    prefix with 2-4 varying digit positions - the shared-prefix
    adversarial shape at radius 2, where a PassJoin-style segment
    scheme would degenerate to all pairs. The oracle replays the same
    two deletion rounds on the raw variant strings (the Spark side's
    xxhash64 key only ever ADDS candidates that the exact verify
    prunes), so the pair set matches exactly."""
    from ghcrawler_datalake_etl_spark.operators.joins import (
        edit_distance_join,
    )

    supp = _t(spark, sf_dir, "supplier")
    return edit_distance_join(supp, "s_suppkey", "s_name", max_dist=2)


# =====================================================================
# CDC changefeed apply (sources/ivm.apply_changes)
# =====================================================================

@register(
    "dim_apply_changes",
    """
    WITH base AS (
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
      FROM customer
    )
    SELECT c_custkey, c_name, acctbal FROM base
    WHERE c_custkey % 10 NOT IN (0, 1)
    UNION ALL
    SELECT c_custkey, c_name, round(acctbal + 100, 2) AS acctbal
    FROM base WHERE c_custkey % 10 = 1
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey, c_name, acctbal
    FROM base WHERE c_custkey % 10 = 2
    """,
)
def dim_apply_changes(spark, sf_dir):
    """CDC changefeed apply (ivm.apply_changes - the MERGE
    INTO ... WHEN MATCHED UPDATE/DELETE / WHEN NOT MATCHED INSERT
    shape): bootstrap a bucketed customer dimension, then apply ONE
    MIXED-ORDER feed, sequenced by ``seq_col`` (round-8, VERDICT r7
    #5 - the APPLY CHANGES ... SEQUENCE BY contract): every
    custkey%10==0 key carries a decoy update at seq 1 AND its delete
    at seq 2 (insert-then-delete resolves to the delete), %10==1
    carries a stale +50 update at seq 1 superseded by the +100 update
    at seq 2, %10==2's re-insert under a new key rides a
    delete-then-insert pair (seq 1 delete, seq 2 insert). The feed
    reduces to the final op per key by one window on the merge's own
    keys before the bucket-pruned rewrite and atomic pointer flip;
    the table lacks a seq column, so the merge's schema alignment
    projects the sequence away and the oracle states the final table
    directly - identical to the unsequenced round-5 variant, which is
    the point: sequencing resolved the conflicts the same way a
    pre-reduced feed would."""
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
    )
    wh = _run_tmp("cdc_wh")
    cat = ParquetCatalog(spark, wh)
    cat.merge_upsert(cust, "CustDim", ["c_custkey"], num_buckets=8)
    # ONE customer scan builds the whole two-event-per-key feed: each
    # affected row explodes (inline) into its seq-1 and seq-2 change
    # events - a 6-way self-union here put six parquet scans under the
    # merge and tripled the query's bench cost
    ch = F.expr("""
        CASE c_custkey % 10
          WHEN 0 THEN array(
            struct(c_custkey, c_name,
                   round(acctbal + 999, 2) AS acctbal,
                   1L AS seq, 'U' AS op),
            struct(c_custkey, c_name, acctbal, 2L AS seq, 'D' AS op))
          WHEN 1 THEN array(
            struct(c_custkey, c_name,
                   round(acctbal + 50, 2) AS acctbal,
                   1L AS seq, 'U' AS op),
            struct(c_custkey, c_name,
                   round(acctbal + 100, 2) AS acctbal,
                   2L AS seq, 'U' AS op))
          WHEN 2 THEN array(
            struct(c_custkey + 1000000 AS c_custkey, c_name, acctbal,
                   1L AS seq, 'D' AS op),
            struct(c_custkey + 1000000 AS c_custkey, c_name, acctbal,
                   2L AS seq, 'I' AS op))
        END
    """)
    changes = (
        cust.where(F.col("c_custkey") % 10 <= 2)
        .select(F.inline(ch))
    )
    ivm.apply_changes(
        cat, changes, "CustDim", ["c_custkey"], seq_col="seq", num_buckets=8
    )
    return cat.read("CustDim")


# =====================================================================
# Driver-window ordering
# =====================================================================
# The build driver records CORRECTNESS rows for the FIRST 50 registry
# entries only. Round-3 rotation: the 12 round-2 additions that sat at
# positions 51+ last round (and therefore have no driver row yet) move
# INTO the window; 12 parity-core queries with TWO consecutive green
# driver rows (CORRECTNESS_r01.json + CORRECTNESS_r02.json: p1/p2/p3/
# p5, j1/j4, a1/a4, f1/f3/f10, x3) rotate OUT to make room, per the
# round-2 VERDICT's instruction. Entries past the window are either
# double-green rotated-out parity queries or secondary variants/
# compositions with at least one prior green row, and every entry
# regardless of position stays green in the local differential harness
# (tests/test_oracle_differential.py, sf0.001 by default and sf0.01
# via SPARK_GRAFT_ORACLE_SF_DIR).

_DRIVER_ORDER = [
    # ============ driver window (first 50): what round 14 verifies ====
    # Round-14 rotation (VERDICT r13 #2): the six single-green
    # round-13 newcomers stay; the five round-14 NEW operators
    # (COUNT DISTINCT IVM batch + streaming, two-upstream streaming
    # join IVM, top-k IVM batch + streaming) take the next slots; the
    # newest-r10 cohort (the oldest evidence on record, 41 queries
    # incl. the two that ceded their r13 slots) rotates in
    # fewest-greens-first - 39 of 41 fit; pack_token_shards (6 driver
    # rounds) and dedup_minhash_lsh (5), the cohort's MOST-green
    # members, cede the last slots to the top-k pair and head the r15
    # rotation. Every leaver holds >= 2 green driver rounds
    # (EVIDENCE.json; the whole r13 window re-greened in r13).
    "dim_join_ivm",
    "dim_minmax_ivm",
    "stream_bm25_maintenance",
    "stream_join_ivm",
    "stream_aggregate_ivm",
    "pipeline_ivm_gold",
    "dim_distinct_ivm",
    "stream_join_ivm_two_upstream",
    "stream_distinct_ivm",
    "dim_topk_ivm",
    "stream_topk_ivm",
    "dedup_exact_groups",
    "dedup_incremental_index",
    "dedup_prefix_jaccard",
    "multimodal_gif_frames",
    "multimodal_gif_resize",
    "multimodal_image_features",
    "multimodal_wav_stats",
    "pack_store_delta_append",
    "sim_ivf_delta_append",
    "sim_knn_bruteforce",
    "sketch_incremental_stats",
    "stream_lsh_dedup",
    "a5_distinct_count_two_stage",
    "agg_value_percentiles",
    "asof_next_purchase",
    "dedup_span_first_occurrence",
    "j8_edit_distance2_join",
    "multimodal_frames",
    "pivot_user_event_matrix",
    "sample_hash_deterministic",
    "setop_user_cohorts",
    "split_train_valid_test",
    "stream_static_enrich",
    "stream_windowed_counts",
    "w1_maxby_latest_event_per_user",
    "w3_lag_event_gaps",
    "corpus_source_report",
    "decontaminate_eval_overlap",
    "dedup_embedding_cosine",
    "dedup_keep_best_quality",
    "dedup_ngram_jaccard",
    "dedup_simhash_values",
    "embedding_quantize_int8",
    "multimodal_audio_chunks",
    "multimodal_features",
    "pipeline_dedup_shards",
    "sim_ivf_kmeans_topk",
    "sim_knn_graph",
    "text_bigram_logprob",
    # ---------------- position 51+: past the driver window ----------
    # Everything below holds >= 2 green driver rounds in EVIDENCE.json;
    # extension-prefixed names have OUT_OF_WINDOW_OK entries in
    # tests/test_registry_order.py, parity-core names sit in
    # PARITY_CORE_ROTATED_OUT there. Sorted for diff stability.
    "a1_collect_reassembly",
    "a4_union_all_agg",
    "agg_rollup_daily",
    "asof_last_purchase",
    "corpus_fertility_by_lang",
    "corpus_vocabulary_topk",
    "cube_status_priority",
    "dedup_clusters",
    "dedup_drop_paragraphs",
    "dedup_incremental_clusters",
    "dedup_incremental_paragraphs",
    "dedup_incremental_spans",
    "dedup_incremental_substrings",
    "dedup_minhash_clusters",
    "dedup_minhash_lsh",
    "dedup_remove_substrings",
    "dedup_semantic_incremental",
    "dedup_semantic_prune",
    "dim_apply_changes",
    "dim_changefeed_consume",
    "dim_scd2_user_state",
    "dim_table_changes",
    "dq_drift_by_day",
    "dq_validate_orders",
    "embedding_random_projection",
    "f10_greatest_last_touched",
    "f1_json_extract",
    "f3_pii_pseudonymize",
    "funnel_click_to_purchase",
    "graph_pagerank_transitions",
    "j1_inner_join_agg",
    "j2_anti_join",
    "j3_join_chain_q5",
    "j4_semi_join",
    "j5_salted_skew_join",
    "j6_bloom_prefilter_join",
    "j7_edit_distance_join",
    "jsonl_round_trip",
    "layout_compact_roundtrip",
    "layout_zorder_buckets",
    "locf_fill_forward",
    "multimodal_audio_stats",
    "multimodal_phash_pairs",
    "orc_catalog_roundtrip",
    "p1_eq_filter",
    "p2_like_filter",
    "p3_isin_filter",
    "p5_string_predicates",
    "pack_store_roundtrip",
    "pack_token_shards",
    "pattern_a_snapshot_upsert",
    "pattern_b_array_child",
    "pattern_c_collection_refresh",
    "pattern_d_traffic_series",
    "pattern_e_version_log",
    "pipeline_chunk_dedup_pack",
    "pipeline_daily_ingest",
    "pipeline_quality_mix_pack",
    "pipeline_tokenize_pack",
    "pipeline_training_data",
    "q18_large_quantity_orders",
    "q1_pricing_summary",
    "q3_unshipped_topk",
    "range_interval_join",
    "sample_dsir_select",
    "sample_eval_carve",
    "sample_pps_systematic",
    "sample_stratified_by_lang",
    "sample_target_mix",
    "sample_temperature_mix",
    "sample_top_share_quality",
    "search_bm25_incremental",
    "search_bm25_topk",
    "search_hybrid_rrf",
    "search_tfidf_cosine",
    "sessionize_events",
    "sim_ann_lsh",
    "sim_ivf_topk",
    "sim_kmeans_assign",
    "sim_kmeans_refresh",
    "sim_knn_int8_dot",
    "sim_knn_pandas_gemm",
    "sim_mmr_rerank",
    "sim_pq_adc_topk",
    "sketch_bloom_decontaminate",
    "sketch_cms_heavy_hitters",
    "sketch_histogram_quantiles",
    "sketch_hll_distinct",
    "sketch_hll_merge",
    "sketch_kmv_distinct",
    "sketch_kmv_overlap",
    "sketch_stats_cdc_table",
    "split_leakage_safe",
    "stream_boilerplate_screen",
    "stream_changefeed_emission",
    "stream_cluster_maintenance",
    "stream_dedup_ingest",
    "stream_hll_distinct",
    "stream_interval_join",
    "stream_semantic_dedup",
    "subquery_lineitem_count",
    "text_boilerplate_incremental",
    "text_boilerplate_lines",
    "text_bpe_encode",
    "text_bpe_encode_ids",
    "text_bpe_pair_stats",
    "text_chunk_windows",
    "text_clean_lines",
    "text_fingerprint",
    "text_gopher_filter",
    "text_lang_id",
    "text_perplexity_buckets",
    "text_quality_classifier",
    "text_quality_score",
    "text_redact_pii",
    "text_repetition_metrics",
    "text_stats",
    "text_unigram_logprob",
    "timeseries_gap_fill",
    "timeseries_interpolate",
    "timeseries_max_concurrency",
    "topk_orders_per_segment",
    "tsv_round_trip",
    "w1_latest_event_per_user",
    "w2_distinct_keys",
    "w4_rank_quartiles",
    "w5_sliding_hour_frame",
    "x3_posexplode_tokens",
]


def _resolve_driver_order(
    declared: list[str], registered: list[str]
) -> tuple[list[str], list[str]]:
    """Resolve the effective registry order from the declared
    ``_DRIVER_ORDER`` and the actually-registered query names. Returns
    ``(order, problems)``: known names keep their declared positions
    (first occurrence wins for duplicates), names registered but absent
    from the declaration append at the TAIL - past the driver window,
    so a forgotten declaration costs exactly that query's driver row
    and NOTHING else - and declared-but-unregistered names drop out.
    ``problems`` is human-readable and empty iff the two lists agree
    exactly; tests/test_registry_order.py pins it empty, so a mismatch
    still fails CI loudly while the module stays importable.

    Round-8 hardening: the previous import-time ``AssertionError`` here
    zeroed EVERY driver artifact for two consecutive rounds
    (CORRECTNESS r6/r7 = {}, BENCH rc=1, 7 test modules uncollectable)
    over ONE name missing from the tail of the declaration. A registry
    sync bug must degrade to one lost row, not a dead round.
    """
    reg = set(registered)
    problems: list[str] = []
    seen: set[str] = set()
    order: list[str] = []
    dupes: list[str] = []
    for n in declared:
        if n in seen:
            dupes.append(n)
            continue
        seen.add(n)
        if n in reg:
            order.append(n)
    if dupes:
        # a repeated name silently keeps its FIRST position; that masks
        # a mis-stated window composition
        problems.append(f"duplicate entries: {sorted(set(dupes))}")
    missing = [n for n in declared if n not in reg]
    if missing:
        problems.append(f"declared but not registered: {missing}")
    stragglers = [n for n in registered if n not in seen]
    if stragglers:
        problems.append(
            f"registered but not declared (appended past the driver "
            f"window): {stragglers}"
        )
        order.extend(stragglers)
    return order, problems


def _apply_driver_order() -> None:
    global _QUERIES, _ORACLES, _DRIVER_ORDER_PROBLEMS
    order, problems = _resolve_driver_order(_DRIVER_ORDER, list(_QUERIES))
    _DRIVER_ORDER_PROBLEMS = problems
    if problems:
        import warnings

        warnings.warn(
            "_DRIVER_ORDER out of sync (degraded, not fatal): "
            + "; ".join(problems),
            stacklevel=2,
        )
    _QUERIES = {n: _QUERIES[n] for n in order}
    _ORACLES = {n: _ORACLES[n] for n in order if n in _ORACLES}


_DRIVER_ORDER_PROBLEMS: list[str] = []
_apply_driver_order()
