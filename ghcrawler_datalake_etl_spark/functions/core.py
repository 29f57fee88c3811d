"""Scalar helpers: the Spark-native equivalents of the reference's
``GHInsights.USql.Utility.Get*`` family and its dedup idioms.

The reference stores each crawled JSON document flattened into a
path->bytes map and extracts typed columns with scalar .NET helpers
(SURVEY.md section 2.6; /root/reference/USQL/ProcessDaily.usql:98-129).
Here documents are native nested structs, so "path extraction" is just
struct access + cast - everything below is a Column expression (JVM-side,
whole-stage codegen; zero Python UDFs, per SURVEY.md section 2.8).
"""

from __future__ import annotations

import weakref

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ColumnOrName = Column | str


def require_driver_local(path: str, what: str) -> None:
    """Guard for components whose metadata lives behind driver-side
    file ops (ParquetCatalog pointers/metadata/hardlinks, tokshard and
    streaming-delta manifests): on an object-store URI those ops would
    SILENTLY see an empty store (os.listdir/os.path.isfile return
    nothing) instead of failing - so fail loudly up front. ``file://``
    is allowed (callers strip it); port the metadata IO to the Hadoop
    FileSystem API to lift the restriction."""
    import re

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", path)
    if m and m.group(1).lower() != "file":
        raise NotImplementedError(
            f"{what} requires a driver-local filesystem path; got "
            f"{path!r}. Route the store through a mounted/local path, "
            "or port the manifest IO to the Hadoop FileSystem API."
        )


def _path(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def vector_literal(values: Sequence[float]) -> Column:
    """array<double> literal built as ONE parsed SQL expression.

    ``F.lit(list_of_floats)`` converts element by element over py4j:
    measured ~120ms per 8x16 nested matrix, which made DRIVER-SIDE plan
    construction (not Catalyst, not execution) the dominant cost of the
    centroid-literal queries - PQ/ADC spent ~2s per plan on it. One
    ``F.expr`` string is a single py4j call parsed JVM-side, ~1ms.

    Bit-exact: ``repr(float)`` is Python's shortest round-trip decimal
    form and ``CAST(string AS DOUBLE)`` is a correctly-rounded parse,
    so the literal is the identical IEEE double (pinned by test,
    including -0.0 and subnormals). Finite values only by contract
    (centroids/norms) - NaN/Inf would need special spelling. Elements
    are coerced through float() first (matching matrix_literal): a
    numpy>=2.0 scalar reprs as ``np.float64(1.5)``, which would
    otherwise CAST to NULL under non-ANSI Spark.
    """
    body = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values)
    return F.expr(f"array({body})")


def matrix_literal(rows: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal via one parsed SQL expression - the
    nested form of vector_literal, used for every centroid matrix that
    rides into a plan (kmeans _best, IVF _nearest_cells, PQ codebooks).
    """
    body = ",".join(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in r) + ")"
        for r in rows
    )
    return F.expr(f"array({body})")


def int_vector_literal(values: Sequence[int]) -> Column:
    """array<int/long> literal via one parsed SQL expression (the py4j
    cost argument of vector_literal applies to int lists too)."""
    body = ",".join(f"CAST({int(x)} AS LONG)" for x in values)
    return F.expr(f"array({body})")


def get_string(col: ColumnOrName) -> Column:
    """Utility.GetString / GetUSqlString: path -> string, NULL if absent.

    Ref: /root/reference/USQL/ProcessDaily.usql:100,115 (647 + 66 call
    sites). Spark strings are unbounded so the 128KB-safe GetUSqlString
    variant collapses into the same expression.
    """
    return _path(col).cast("string")


def get_long(col: ColumnOrName) -> Column:
    """Utility.GetInteger: path -> integer, NULL if absent/non-numeric.

    Ref: /root/reference/USQL/ProcessDaily.usql:104 (485 call sites).
    LongType because GitHub ids exceed int32. try_cast keeps the
    function total under ANSI mode (malformed -> NULL, never throw).
    """
    return _path(col).try_cast("long")


def get_bool(col: ColumnOrName) -> Column:
    """Utility.GetBoolean (ref: /root/reference/USQL/ProcessDaily.usql:106).
    Total: malformed -> NULL (try_cast)."""
    return _path(col).try_cast("boolean")


def get_timestamp(col: ColumnOrName) -> Column:
    """Utility.GetDateTime: ISO-8601 string -> UTC timestamp.

    Ref: /root/reference/USQL/ProcessDaily.usql:108. Session TZ is pinned
    to UTC by the session factory, so a bare cast is exact. Total:
    malformed -> NULL (try_cast).
    """
    return _path(col).try_cast("timestamp")


def pii_hash(col: ColumnOrName) -> Column:
    """Deterministic pseudonymization for PII columns.

    The reference routes person-identifying fields (emails, real names,
    company, blog - 32 call sites) through ``Utility.GetPiiString``
    (/root/reference/USQL/ProcessDaily.usql:109-110,1874,3159-3167).
    sha2-256 keeps the column joinable across tables and runs while
    removing the cleartext. NULL stays NULL.
    """
    c = _path(col).cast("string")
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(F.sha2(c, 256))


def greatest_touched(deleted_at: ColumnOrName, processed_at: ColumnOrName) -> Column:
    """The reference's "last touched" ordering timestamp.

    Ref: ``DeletedAt > ProcessedAt ? DeletedAt : ProcessedAt``
    (/root/reference/USQL/ProcessDaily.usql:139, 39 occurrences). Under C#
    lifted-null semantics a NULL DeletedAt never wins, which is exactly
    ``F.greatest`` (null-ignoring). Pinned by test (SURVEY.md Q5).
    """
    return F.greatest(_path(deleted_at), _path(processed_at))


def latest_by(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
    strategy: str = "window",
) -> DataFrame:
    """Latest-version-wins dedup - the reference's W1, its single most
    important operator (72 uses repo-wide).

    Ref: ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC) == 1``
    (/root/reference/USQL/ProcessDaily.usql:137-140,176-177).

    ``order_by`` columns are applied descending with NULLs last (U-SQL
    DESC places NULLs last; pinned by test, SURVEY.md Q5). Callers should
    append a unique tiebreaker column for deterministic results - the
    reference breaks ties arbitrarily (SURVEY.md section 7.4.1).

    strategy:
      - ``window``: row_number + filter. One shuffle + per-partition sort.
      - ``max_by``: ``groupBy(keys).agg(max_by(struct(*), ts))`` - same
        semantics, hash-aggregate instead of a full sort; partial (map-side)
        aggregation makes it the cheaper plan at the 100 TB target
        (SURVEY.md section 4 "Dedup execution strategy"). Requires a
        single order column (pack composites with F.struct beforehand).
    """
    if strategy == "max_by":
        ord_col = order_by[0] if len(order_by) == 1 else F.struct(*order_by)
        packed = df.groupBy(*keys).agg(
            F.max_by(F.struct(*[c for c in df.columns if c not in keys]), ord_col).alias("_row")
        )
        return packed.select(*keys, "_row.*")
    w = Window.partitionBy(*keys).orderBy(*[c.desc_nulls_last() for c in order_by])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def quantize(col: Column, digits: int) -> Column:
    """Cross-engine-stable quantization of a per-row computed double:
    floor(x * 10^d) / 10^d.

    ``round()`` is NOT portable for doubles: Spark rounds the shortest
    decimal representation (HALF_UP on BigDecimal.valueOf), DuckDB rounds
    the binary value - they disagree whenever the shortest repr is an
    exact half (e.g. 1222.745). floor() of bit-identical doubles cannot
    disagree. Use for per-row arithmetic (products, quotients, cosines);
    keep round() for aggregates, whose binary values already differ by
    summation order.
    """
    scale = 10**digits
    return F.floor(col * scale) / scale


#: frame -> parallelism fan_out has already ensured for it (identity
#: keys, weak so plans are collectable). A frame fan_out returned - or
#: passed through as already wide enough - need not be probed again:
#: operators re-fan_out the frames queries hand them, and the probe
#: behind the decision (``df.rdd.getNumPartitions()``) converts the
#: WHOLE plan to an RDD on the driver, measured 57-80 ms per call.
_FAN_OUT_ENSURED: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary()
)

#: frame -> stat key of the file it scans, set by tables.load_table on
#: the BARE scans it returns (identity keys, weak). Scan parallelism is
#: a pure function of (file, split confs), so fan_out's under-split
#: decision memoizes per (stat key, target) for exactly these frames -
#: a DERIVED frame (filter/union/shuffle of a scan) shares the file set
#: but not necessarily the partitioning, so it never takes the memo
#: (learned the hard way: a files-keyed memo re-fired the repartition
#: on already-fanned frames, adding a redundant Exchange).
_SCAN_SOURCE: "weakref.WeakKeyDictionary[DataFrame, tuple]" = (
    weakref.WeakKeyDictionary()
)

#: (scan stat key, target) -> whether that bare scan meets the target.
_SCAN_FAN_MEMO: dict[tuple, bool] = {}


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a frame whose scan parallelism is below
    the cluster's, so CPU-heavy narrow work (shingling, hashing, regex,
    vector math) uses every core.

    Single-row-group parquet files scan as ONE task no matter how many
    executors exist - everything before the first shuffle then runs
    single-threaded. At warehouse scale inputs have >= cores partitions
    and this is a no-op; the repartition only fires on under-split
    inputs, where shuffling them is cheap by construction.

    The ~60-80 ms driver-side RDD-conversion probe is skipped when the
    answer is already known: frames fan_out itself produced or passed
    through (identity, so an operator re-fanning the frame its caller
    fanned is free), and bare ``load_table`` scans, whose parallelism
    is file-determined (memoized per file stat + target). Every other
    frame keeps the direct probe - decisions are bit-identical to
    probing every time.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    if _FAN_OUT_ENSURED.get(df, 0) >= target:
        return df
    src = _SCAN_SOURCE.get(df)
    if src is not None:
        key = (src, target)
        enough = _SCAN_FAN_MEMO.get(key)
        if enough is None:
            enough = df.rdd.getNumPartitions() >= target
            _SCAN_FAN_MEMO[key] = enough
    else:
        enough = df.rdd.getNumPartitions() >= target
    if enough:
        _FAN_OUT_ENSURED[df] = max(target, _FAN_OUT_ENSURED.get(df, 0))
        return df
    out = df.repartition(target)
    _FAN_OUT_ENSURED[out] = target
    return out


def stable_long_hash(col: ColumnOrName, seed: int = 0) -> Column:
    """Portable deterministic 63-bit non-negative hash of a string.

    Built from md5 so the same value is computable in any SQL engine
    (used by the dedup/similarity extension operators and their DuckDB
    oracles; Spark's ``hash()``/``xxhash64`` are not portable).
    """
    c = _path(col).cast("string")
    if seed:
        c = F.concat(F.lit(f"s{seed}:"), c)
    # First 15 hex chars of md5 -> 60 bits, always fits in a positive long.
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
