"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
- Signatures (minhash / simhash / fingerprints) are computed entirely
  array-side per row (nested higher-order functions over the token
  array) - a narrow projection with NO shuffle and no Python.
- Candidate generation shuffles only (band_key, id) pairs - a few
  dozen bytes per doc per band - never document text. The verify step
  joins candidate ids back to the (much smaller) distinct-shingle-set
  frame. This is the standard banding trade: P(candidate) =
  1 - (1 - s^r)^b for Jaccard s, r rows/band, b bands.
- All hashes are md5-derived (portable) so each operator has an exact
  DuckDB oracle; parameters are plain Python ints mirrored into the
  oracle SQL by the test harness.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.functions.core import fan_out, quantize, stable_long_hash
from ghcrawler_datalake_etl_spark.operators.text import tokenize

# Mersenne prime 2^31-1: keeps a*h+b within int64 after reducing h mod P.
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation parameters - plain ints so the
    DuckDB oracle can embed the identical list."""
    return [
        (((i * 2 + 1) * 2_654_435_761) % MINHASH_P or 1, (i * 40_503 + 17) % MINHASH_P)
        for i in range(num_hashes)
    ]


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Documents with fewer than ``n`` tokens (incl. empty/null text) yield
    an EMPTY array: sequence(1, 0) counts DOWN [1, 0] and slice() throws
    on start=0 under ANSI, so the short case must be guarded, not relied
    on to no-op.
    """
    toks = tokenize(col)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(count > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(shingle_col: Column) -> Column:
    """Portable 60-bit hash per shingle, reduced mod P (array<long>)."""
    return F.transform(
        shingle_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % MINHASH_P,
    )


def minhash_signature_from_hashes(hs: Column, num_hashes: int = 64) -> Column:
    """MinHash signature (array<long>, length num_hashes) from a
    pre-hashed shingle array: sig[i] = min over shingles of
    (a_i*h + b_i) mod P. Empty shingle set -> all P (never matches).

    ``hs`` should be a plain column reference to a projection that
    already materialized ``shingle_hashes`` - the 64 permutations each
    scan the array, so the md5 work must not be inlined into them
    (Catalyst's CollapseProject keeps the boundary because the hash
    expression is non-cheap and multiply-referenced).
    """

    def perm(a: int, b: int):
        return lambda h: (h * a + b) % MINHASH_P

    sigs = [
        F.array_min(F.transform(hs, perm(a, b)))
        for (a, b) in minhash_params(num_hashes)
    ]
    return F.transform(
        F.array(*sigs), lambda s: F.coalesce(s, F.lit(MINHASH_P)).cast("long")
    )


def minhash_signature_pandas_udf(num_hashes: int = 64):
    """Vectorized (Arrow) form of minhash_signature_from_hashes -
    bit-identical output (same int64 (a*h+b) mod P arithmetic), ~5-10x
    faster: Spark evaluates higher-order array lambdas interpreted
    (outside whole-stage codegen), so the num_hashes x shingles
    expression walk dominates the expression form; one numpy broadcast
    computes the whole permutation matrix per row instead.

    The md5 hashing itself stays JVM-side (shingle_hashes) - only the
    cheap-to-transfer long array crosses Arrow.
    """
    from pyspark.sql.functions import pandas_udf

    params = minhash_params(num_hashes)
    a_row = np.array([a for a, _ in params], dtype=np.int64)[None, :]
    b_row = np.array([b for _, b in params], dtype=np.int64)[None, :]
    empty = [MINHASH_P] * num_hashes

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append(empty)
                continue
            hv = np.asarray(h, dtype=np.int64)[:, None]  # (n_shingles, 1)
            # h < P and a < P  =>  h*a < 2^62: stays in int64
            out.append(((hv * a_row + b_row) % MINHASH_P).min(axis=0).tolist())
        return pd.Series(out)

    return sig


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_members: int | None = None
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per duplicated hash
    with the canonical (minimum) id, the dup count, and member ids.

    Scale: shuffles (hash, id) only - map-side partial aggregation makes
    the exchange proportional to distinct hashes, not rows. A pathological
    cluster (e.g. billions of empty documents) makes one giant member
    array; ``max_members`` caps the OUTPUT listing (dup_count stays
    exact). The aggregation state still accumulates the full list before
    the slice - for truly unbounded clusters select only
    (canonical_id, dup_count), which is fully map-side combinable.
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_md5")
    )
    members = F.sort_array(F.collect_list("doc_id"))
    if max_members is not None:
        members = F.slice(members, 1, max_members)
    return (
        hashed.groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("dup_count"),
            members.alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def _pairs_from_candidates(cands: DataFrame, left: str, right: str) -> DataFrame:
    return cands.filter(F.col(left) < F.col(right)).distinct()


# candidate-id sets above this are shuffle-joined instead of broadcast:
# ~4M longs is tens of MB serialized, comfortably under executor/driver
# broadcast budgets while still covering any sane dedup batch
_BROADCAST_ID_CAP = 4_000_000


# Release handles for every frame an operator pins internally via a
# plain persist. _materialize frames are private to their operator - no
# call site can reach them to unpersist - so across a long query loop
# (the 162-query bench) they accumulate and evict each other's AND the
# live query's cached blocks (measured r11: dedup_prefix_jaccard 8.4s
# in-loop vs 3.2s isolated, identical code). The registry makes the
# lifecycle explicit: loop harnesses call release_materialized() after
# each query's actions complete. Scope is DELIBERATELY plain persists
# only - releasing one is always correctness-safe (persist is an
# optimization; a released frame recomputes from lineage on re-scan).
# localCheckpoint blocks (_checkpoint) are NOT registered: they have no
# recompute lineage, and module-level caches (text._BPE_IDS_CACHE) hold
# persisted frames whose plans embed checkpointed RDDs - releasing
# those would turn a later cache eviction into a job failure, not a
# slowdown. Checkpoint lifecycles stay with their owners
# (_checkpoint_tracked + the per-trigger stream releases).
_RELEASE_LOCK = threading.RLock()
# (registering-thread ident, handle) pairs; the thread tag lets
# released_scope claim exactly its own thread's registrations, so two
# concurrently-running streaming queries (each a foreachBatch worker
# thread wrapping its screen in a scope) never free or orphan each
# other's persists - interleaved appends made the previous index-slice
# deletion do both.
_RELEASE_HANDLES: list = []


def register_release(handle) -> None:
    """Register a zero-arg release callback (typically a bound
    ``df.unpersist``) for the next :func:`release_materialized`. For
    operator-internal plain persists that outlive their function."""
    with _RELEASE_LOCK:
        _RELEASE_HANDLES.append((threading.get_ident(), handle))


class released_scope:
    """Context manager releasing ONLY the frames registered inside its
    body - the per-trigger form of :func:`release_materialized` for
    long-running streams: a foreachBatch body wraps its screen in one
    scope so each trigger's operator-internal persists free before the
    next trigger, without touching frames the CALLER pinned earlier
    (a global drain mid-query could release a frame the enclosing
    query still scans).

    Thread-safe by identity, not position: on exit the scope claims
    exactly the handles its OWN thread registered after enter (minus
    any a nested scope already released). Concurrent foreachBatch
    threads each see only their own registrations, so one trigger's
    exit can neither free frames another trigger is mid-scan nor
    silently orphan them."""

    def __enter__(self):
        self._ident = threading.get_ident()
        with _RELEASE_LOCK:
            # strong refs keep the ids stable for the scope's lifetime
            self._before_refs = [
                h for t, h in _RELEASE_HANDLES if t == self._ident
            ]
        self._before_ids = {id(h) for h in self._before_refs}
        return self

    def __exit__(self, *exc):
        with _RELEASE_LOCK:
            mine, keep = [], []
            for t, h in _RELEASE_HANDLES:
                if t == self._ident and id(h) not in self._before_ids:
                    mine.append(h)
                else:
                    keep.append((t, h))
            _RELEASE_HANDLES[:] = keep
        for h in mine:
            try:
                h()
            except Exception:  # noqa: BLE001
                pass
        self._before_refs = []
        return False


def release_materialized() -> int:
    """Unpersist every operator-internal frame pinned since the last
    call - ALL threads' registrations; returns the number of handles
    released. Intended call point: a query/bench loop boundary, after
    the current query's actions have completed and before the next
    query starts (no operator is concurrently running there, so a
    global drain is unambiguous). Safe by construction: only
    lineage-bearing persists are registered, so a released frame that
    is scanned again recomputes instead of failing."""
    with _RELEASE_LOCK:
        drained = [h for _, h in _RELEASE_HANDLES]
        _RELEASE_HANDLES.clear()
    for h in drained:
        try:
            h()
        except Exception:  # noqa: BLE001 - a dead session must not
            pass  # block releasing the remaining handles
    return len(drained)


def _materialize(df: DataFrame) -> DataFrame:
    """Persist AND eagerly compute a frame that feeds a self-join.

    ``cache()`` alone is lazy: the first action sees the cache empty, so
    every concurrent consumer (both sides of a self-join plus the verify
    joins - up to 4 scans) races to recompute the expensive
    shingle/signature subtree before any partition lands in the cache.
    Measured on local[32] at sf0.1 that race made minhash-LSH ~10x
    slower than compute-once. One eager count() pays the subtree exactly
    once; MEMORY_AND_DISK spills instead of OOMing at scale. The frame
    registers in ``_RELEASE_HANDLES`` so loop harnesses can unpersist it
    once the query's actions are done (release_materialized)."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    register_release(df.unpersist)
    return df


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: materialize AND truncate logical lineage.

    For loop state in iterative algorithms, persist() is not enough -
    the persisted frame keeps its full logical plan, so round k's query
    embeds round k-1's plan several times (the state appears on both
    sides of the round's join) and the tree grows geometrically.
    Analysis/canonicalization of that tree is single-threaded driver
    work: measured on the CC loop at sf0.1, round 2 spent 13s planning
    a join over 477 cached rows with 31 of 32 cores idle. Checkpointing
    flattens the state to a scanned RDD, so every round plans a
    constant-size tree.

    Trade-off vs persist: the checkpointed blocks have no recompute
    lineage, so losing an executor mid-loop fails the job instead of
    recomputing (the standard contract for iterative graph state; on a
    cluster, reliable ``spark.checkpoint.dir`` checkpoints restore
    fault-tolerance at the cost of an HDFS write per round)."""
    return df.localCheckpoint(eager=True)


def _checkpoint_tracked(df: DataFrame):
    """_checkpoint plus a release handle. ``DataFrame.unpersist`` is a
    no-op for localCheckpoint state (the blocks belong to the internal
    RDD, which the cache manager never sees - verified empirically), so
    superseded loop rounds would hold executor storage until driver GC.
    Track the persistent-RDD ids the checkpoint creates and unpersist
    exactly those on release. Assumes no concurrent job persists RDDs
    between the two snapshots - true inside our iterative loops, which
    own the session while they run."""
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = _checkpoint(df)
    created = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before

    def release() -> None:
        m = sc._jsc.getPersistentRDDs()
        for i in created:
            if m.containsKey(i):
                m.get(i).unpersist(False)

    return out, release


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    stop_shingle_df: int | None = None,
    materialize_result: bool = False,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, computed entirely from the
    inverted index: shingles are distinct per document, so the number of
    (id_a, id_b) matches across the index IS |A intersect B|, and
    J = c / (|A| + |B| - c). No pair ever touches a shingle array - the
    shuffle carries (shingle, id) then (id_a, id_b) partial counts, both
    map-side combinable.

    Scale: candidate volume is sum(df^2) over shingles - skew on
    boilerplate shingles is the hazard. ``stop_shingle_df`` drops
    shingles above a document-frequency ceiling; that makes the match
    count a lower bound (boilerplate evidence discarded), a documented
    approximation for 100 TB runs - leave None for exact results.
    """
    # Filter AFTER materializing: a filter on size(sh) directly above the
    # projection gets its predicate substituted through the alias and
    # below the repartition - the whole shingle expression would run
    # TWICE, one copy single-threaded before the fan-out (measured 7x on
    # this frame). Against the cache, size(sh) is a cheap array-length
    # read. Also: consumed three times (sizes + both self-join sides).
    sh = _materialize(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), n).alias("sh"),
        )
    ).filter(F.size("sh") > 0)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    # join on a 60-bit shingle hash, not the string: ~5x less shuffle at
    # scale, same counts (injective up to md5-collisions - ~1e-10 at test
    # scale; at 10^10 distinct shingles a handful of merged shingles
    # perturb a few counts by 1, immaterial for near-dup thresholds)
    inv = sh.select("doc_id", F.explode("sh").alias("_s")).select(
        "doc_id", stable_long_hash(F.col("_s")).alias("shingle")
    )
    if stop_shingle_df is not None:
        freq = inv.groupBy("shingle").agg(F.count("*").alias("df_count"))
        inv = inv.join(
            freq.filter(F.col("df_count") <= stop_shingle_df), "shingle"
        ).select("doc_id", "shingle")
    matches = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    # sizes is one row per doc - tiny at test scale (AQE auto-broadcasts),
    # a plain shuffle join at 100 TB; don't force a broadcast hint.
    out = (
        matches.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", quantize(jac, 4).alias("jaccard"))
    )
    if materialize_result:
        # Persisting the (small, threshold-filtered) pairs output lets
        # every downstream consumer with the same logical plan - the
        # clustering and pipeline queries call this operator with
        # identical args - substitute the cache instead of re-running
        # the index self-join (the dominant cost). Re-persisting an
        # already-cached plan is a no-op, so this is idempotent across
        # call sites.
        out = _materialize(out)
    return out


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    arr_col: Column | str,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join over a set-valued column via
    prefix filtering (the AllPairs/PPJoin candidate principle, Bayardo
    et al. WWW'07): order every document's tokens by global rarity
    (document frequency asc, token asc - any shared total order works)
    and index only the first |x| - ceil(t*|x|) + 1 of them. Pigeonhole:
    J(x,y) >= t implies |x & y| >= ceil(t*max(|x|,|y|)), so two
    qualifying sets MUST collide inside these prefixes - candidates
    are complete, and the exact verify makes the result identical to
    the all-pairs join.

    The scale story vs the full inverted index (ngram_jaccard_pairs):
    candidate volume there is sum(df^2) over ALL tokens - boilerplate
    tokens (df in the millions) dominate it quadratically, and the
    stop-token escape hatch buys survival by giving up exactness.
    Here the join touches only each document's RAREST tokens, so the
    df^2 blowup is capped by construction at high thresholds while
    the answer stays exact. Shuffles: token df count, the sorted
    re-assembly, the prefix self-join, and the verify joins - all
    equi-keyed, all map-side combinable where they aggregate.

    ``arr_col``: an array column (or name); duplicate elements are
    removed (set semantics). Docs with empty sets never pair.
    """
    t = float(threshold)
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.col(arr_col) if isinstance(arr_col, str) else arr_col
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    ex = base.select("doc_id", F.explode("toks").alias("tok"))
    freq = ex.groupBy("tok").agg(F.count("*").alias("df_count"))
    # per-doc tokens sorted by the global (df, tok) order; struct sort
    # gives the total order without materializing a contiguous global
    # rank (no single-partition vocabulary window)
    sorted_docs = _materialize(
        ex.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df_count", "tok"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(F.col("ordered"), lambda s: s["tok"]).alias("toks"),
        )
    )
    n = F.size("toks")
    prefix_len = n - F.ceil(n * F.lit(t)).cast("int") + 1
    pref = sorted_docs.select(
        "doc_id", F.explode(F.slice("toks", 1, prefix_len)).alias("tok")
    )
    cand = _pairs_from_candidates(
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")),
        "id_a",
        "id_b",
    )
    a = sorted_docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("t_a"),
        F.size("toks").alias("n_a"),
    )
    b = sorted_docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("t_b"),
        F.size("toks").alias("n_b"),
    )
    inter = F.size(F.array_intersect("t_a", "t_b")).cast("double")
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", quantize(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def _lsh_sig_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    sig_impl: str,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Shared MinHash front end: (doc_id, sh, sig), materialized.

    Same shingle frame (and therefore the same cache slot) as
    ngram_jaccard_pairs; the size filter runs AFTER the materialization
    so the predicate cannot duplicate the shingle expression below the
    repartition (see ngram_jaccard_pairs). The md5 shingle hashes get
    their own projection so the num_hashes permutation scans reference
    them instead of recomputing md5 per permutation; sig feeds several
    scans (banding plus both verify sides), so it is materialized too.

    ``handles``: optional list the two persisted frames are appended
    to, so a caller that runs this repeatedly (the per-micro-batch
    streaming wrapper) can .unpersist() them after consuming the
    result instead of accumulating executor storage forever.
    """
    base_m = _materialize(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), n).alias("sh"),
        )
    )
    base = base_m.filter(F.size("sh") > 0)
    hashed = base.select(
        "doc_id", "sh", shingle_hashes(F.col("sh")).alias("hs")
    )
    if sig_impl == "pandas":
        sig_col = minhash_signature_pandas_udf(num_hashes)(F.col("hs"))
    else:
        sig_col = minhash_signature_from_hashes(F.col("hs"), num_hashes)
    sig = _materialize(hashed.select("doc_id", "sh", sig_col.alias("sig")))
    if handles is not None:
        handles.extend([base_m, sig])
    return sig


def _lsh_band_frame(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band_idx, band_hash) rows from a signature frame: one
    md5 bucket key per band of ``rows`` consecutive signature values."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.array_join(F.slice(F.col("sig"), b * rows + 1, rows), ",")
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    sig_impl: str = "pandas",
    materialize_result: bool = False,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle -> signature -> band buckets
    -> bucket-join candidates -> exact-Jaccard verify. ``handles``:
    the _lsh_sig_frame release contract - callers that run this per
    micro-batch unpersist the collected frames after consuming the
    result.

    The scale path for fuzzy dedup: signature computation is shuffle-free;
    only (band_hash, id) shuffles for candidates; exact verification
    touches candidate pairs only.

    Defaults are 32 hashes x 8 bands of 4 rows: half the signature and
    band cost of the classic 64x16 at the same band width (the s-curve
    keeps its shape; fewer bands trade some candidate recall just above
    the threshold - at J=0.5 capture is ~0.40 vs ~0.64). Pass
    num_hashes=64, bands=16 when recall at the margin matters more than
    throughput.

    ``sig_impl``: "pandas" (default - vectorized permutations, see
    minhash_signature_pandas_udf) or "expr" (pure Column expressions, no
    Python anywhere). Outputs are bit-identical.
    """
    rows = num_hashes // bands
    sig = _lsh_sig_frame(
        df, id_col, text_col, n, num_hashes, sig_impl, handles=handles
    )
    banded = _lsh_band_frame(sig, bands, rows)
    cand = _pairs_from_candidates(
        banded.alias("a")
        .join(banded.alias("b"), ["band_idx", "band_hash"])
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")),
        "id_a",
        "id_b",
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.size("sh").alias("n_a"),
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.size("sh").alias("n_b"),
    )
    # |A u B| = na + nb - |A n B|: one set op per candidate, not two
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", quantize(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    if materialize_result:
        # same contract as ngram_jaccard_pairs: the threshold-filtered
        # pairs are small, and persisting them lets (a) the CC
        # symmetrize-union reference them once instead of re-running
        # the band self-join + verify on both union sides, and (b) any
        # other query calling with identical args substitute the cache
        out = _materialize(out)
        if handles is not None:
            handles.append(out)
    return out


def lsh_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    sig_impl: str = "pandas",
) -> DataFrame:
    """Persistable MinHash-LSH band index over a corpus: one narrow row
    per (band_idx, band_hash, doc_id), ready to write as parquet
    (partition or bucket by band_hash at warehouse scale).

    The incremental-dedup primitive for a daily ingest pipeline: build
    (or delta-append) the index once over the standing corpus, then
    dedup each arriving batch against it WITHOUT recomputing a single
    corpus signature - see incremental_lsh_dedup. Index size is
    bands x corpus_rows x ~(16 + 32 + 8) bytes, ~0.1% of a text corpus.
    """
    rows = num_hashes // bands
    sig = _lsh_sig_frame(df, id_col, text_col, n, num_hashes, sig_impl)
    return _lsh_band_frame(sig, bands, rows)


def incremental_lsh_dedup(
    batch: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    sig_impl: str = "pandas",
    handles: list[DataFrame] | None = None,
    keep: str = "best",
) -> DataFrame:
    """Dedup a NEW batch against a STANDING corpus via its persisted
    LSH band index: (batch_id, dup_of, jaccard) per batch document
    verified as a near-dup, where dup_of is the smallest matching
    corpus id and jaccard the exact n-gram Jaccard of that pair
    (floor-quantized to 4 digits, matching minhash_lsh_pairs).
    ``keep="all"`` returns EVERY verified (batch, corpus) pair instead
    of the per-batch-doc best match - the edge list cluster
    maintenance needs (dropping parallel matches would lose the
    connectivity that merges two standing clusters through one
    arriving document).

    100-TB shape - the three costs scale with the BATCH, not the corpus:
    (1) signatures are computed only over the arriving batch; the
    corpus side comes from ``index`` (read back from parquet - no
    recompute, no corpus scan); (2) the candidate join shuffles only
    bucket collisions; (3) the exact verify re-reads corpus TEXT for
    just the candidate doc_ids via a broadcast semi-join, so the
    corpus scan prunes to matched row groups. Compose with
    minhash_lsh_pairs(batch) for within-batch duplicates, then
    lsh_band_index(survivors) appended to the index - the same
    delta-append loop the token-shard store runs for packing.
    """
    rows = num_hashes // bands
    bsig = _lsh_sig_frame(
        batch, id_col, text_col, n, num_hashes, sig_impl, handles=handles
    )
    bband = _lsh_band_frame(bsig, bands, rows).withColumnRenamed(
        "doc_id", "batch_id"
    )
    cand = _materialize(
        bband.join(
            index.select(
                "band_idx", "band_hash", F.col("doc_id").alias("corpus_id")
            ),
            ["band_idx", "band_hash"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    if handles is not None:
        handles.append(cand)
    # exact verify: corpus text only for candidate ids. Broadcast the
    # id set only when it is genuinely dim-sized - a boilerplate-heavy
    # batch can band-collide with an arbitrarily large slice of the
    # corpus, and an unconditional broadcast would then OOM the driver
    # instead of degrading to a shuffle semi-join (cand is persisted,
    # so the gate count is one cached scan)
    hit_ids = cand.select("corpus_id").distinct()
    if hit_ids.count() <= _BROADCAST_ID_CAP:
        hit_ids = F.broadcast(hit_ids)
    corpus_sh = (
        fan_out(
            corpus.join(
                hit_ids,
                corpus[id_col] == hit_ids["corpus_id"],
                "left_semi",
            )
        )
        .select(
            F.col(id_col).alias("corpus_id"),
            shingles(F.col(text_col), n).alias("sh_c"),
        )
        .withColumn("n_c", F.size("sh_c"))
    )
    bsh = bsig.select(
        F.col("doc_id").alias("batch_id"),
        F.col("sh").alias("sh_b"),
        F.size("sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c")).cast("double")
    jac = inter / (F.col("n_b") + F.col("n_c") - inter)
    pairs = (
        cand.join(bsh, "batch_id")
        .join(corpus_sh, "corpus_id")
        .select("batch_id", "corpus_id", quantize(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    if keep == "all":
        return pairs.select(
            "batch_id", F.col("corpus_id").alias("dup_of"), "jaccard"
        )
    w = Window.partitionBy("batch_id").orderBy("corpus_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("batch_id", F.col("corpus_id").alias("dup_of"), "jaccard")
    )


SIMHASH_BITS = 60  # md5-derived hashes carry 60 portable bits (15 hex chars)


def simhash_from_hashes(th: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash (non-negative long; bit b set iff the token-hash bit-b
    vote is positive) from a pre-hashed token array. ``th`` should be a
    plain column reference to a projection that materialized the token
    hashes - the per-bit votes each scan the array, so the md5 must not
    be inlined into all ``bits`` of them.
    """
    pow2 = [1 << b for b in range(bits)]

    def vote(p: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(p)) != 0, 1
        ).otherwise(-1)

    votes = [F.aggregate(th, F.lit(0), vote(p)) for p in pow2]
    return sum(
        [F.when(v > 0, F.lit(p)).otherwise(F.lit(0)).cast("long") for v, p in zip(votes, pow2)],
        F.lit(0).cast("long"),
    )


def simhash(col: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash of a text column. Weighted by token frequency since
    tokenize() keeps duplicates. Prefer simhash_df / the two-projection
    simhash_from_hashes form - inlining here re-evaluates the token md5
    once per bit."""
    return simhash_from_hashes(
        F.transform(tokenize(col), lambda t: stable_long_hash(t)), bits
    )


def simhash_pandas_udf(bits: int = SIMHASH_BITS):
    """Vectorized (Arrow) form of simhash_from_hashes - bit-identical
    (same integer votes), avoiding ``bits`` interpreted array scans per
    row: one numpy unpack computes the whole vote matrix."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sh(th: pd.Series) -> pd.Series:
        out = []
        for h in th:
            if h is None or len(h) == 0:
                out.append(0)
                continue
            hv = np.asarray(h, dtype=np.int64)[:, None]  # (n_tokens, 1)
            bitmat = (hv >> np.arange(bits, dtype=np.int64)[None, :]) & 1
            votes = np.where(bitmat == 1, 1, -1).sum(axis=0)
            set_bits = (votes > 0).astype(np.int64)
            out.append(int((set_bits << np.arange(bits, dtype=np.int64)).sum()))
        return pd.Series(out, dtype="int64")

    return sh


def simhash_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    impl: str = "pandas",
) -> DataFrame:
    """(id, simhash) frame via the two-projection form: token hashes
    materialized once (JVM md5), then the votes - vectorized by default;
    ``impl="expr"`` keeps everything in Column expressions. Outputs are
    bit-identical (pinned by test)."""
    th = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokenize(F.col(text_col)), lambda t: stable_long_hash(t)).alias(
            "th"
        ),
    )
    if impl == "pandas":
        return th.select(
            "doc_id", simhash_pandas_udf(bits)(F.col("th")).alias("simhash")
        )
    return th.select(
        "doc_id", simhash_from_hashes(F.col("th"), bits).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: band the hash into ``chunks`` bit-chunks;
    any pair within ``max_hamming`` (< chunks) shares at least one exact
    chunk (pigeonhole), so candidates come from equality joins on chunk
    values; verify with popcount(xor) <= max_hamming.
    """
    chunk_bits = SIMHASH_BITS // chunks
    sh = _materialize(simhash_df(df, id_col, text_col))
    mask = (1 << chunk_bits) - 1
    chunked = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cand = _pairs_from_candidates(
        chunked.alias("a")
        .join(chunked.alias("b"), ["chunk_idx", "chunk_val"])
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        ),
        "id_a",
        "id_b",
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _block_pair_fanout(proj: DataFrame, num_blocks: int) -> DataFrame:
    """Fan ``proj`` out to every unordered block pair it participates
    in, as ONE union-of-two-explosions frame tagged ``side`` (0 = the
    pair's left/row set, 1 = its right/column set). Grouping the union
    on (bi, bj) replaces a self-cogroup of twin lineages, which Spark's
    ambiguous-self-join analyzer rejects whenever the input plan
    already contains a join - and shuffles one exchange instead of two.
    Shared by embedding_cosine_pairs_gemm and similarity.knn_graph.
    """
    blk = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_blocks)).cast("int")
    left = (
        proj.withColumn("bi", blk)
        .withColumn("bj", F.explode(F.sequence(F.col("bi"), F.lit(num_blocks - 1))))
        .withColumn("side", F.lit(0))
    )
    right = (
        proj.withColumn("bj", blk)
        .withColumn("bi", F.explode(F.sequence(F.lit(0), F.col("bj"))))
        .withColumn("side", F.lit(1))
    )
    return left.unionByName(right)


def embedding_cosine_pairs_gemm(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs via triangular-blocked numpy GEMM (the
    throughput form of embedding_cosine_pairs): rows are hashed into
    ``num_blocks`` blocks, every unordered block pair (i, j), i <= j,
    becomes one grouped task, and each task scores its two blocks with a
    single BLAS call.

    Fully distributed: no driver collect, no broadcast - executor memory
    holds at most two blocks (~2n/B rows), so ``num_blocks`` is the knob
    that fits the corpus to the cluster (B blocks -> ~(B+1)/2 x shuffle
    replication, n^2/B^2 work per task). All-pairs cosine is O(n^2)
    whichever way - at warehouse scale run LSH/IVF candidate generation
    first (similarity.ann_lsh_topk / ivf_topk) and reserve this for
    within-bucket verification. Each pair's dot is one contiguous numpy
    reduction exactly as in the unblocked form, so results are
    bit-identical to it; float64 summation order differs from the
    sequential zip_with fold by ~1e-15, which the 1e-4 quantization
    absorbs except on exact grid boundaries (~1e-10/pair).
    """
    import numpy as np

    # NULL vectors must drop BEFORE np.stack (a None in the batch is a
    # shape error); the fold twin and the oracle exclude them the quiet
    # way (NULL-propagating dot -> threshold comparison never true)
    proj = fan_out(df).filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    # row in block p reaches every pair (bi=p, bj>=p) tagged side 0 and
    # every pair (bi<=p, bj=p) tagged side 1; each unordered block pair
    # is materialized exactly once. The two explosions UNION into one
    # frame grouped on (bi, bj) - a self-COGROUP of twin lineages would
    # trip Spark's ambiguous-self-join analyzer whenever the input plan
    # already contains a join (any composed pipeline); the union form
    # has no join anywhere and shuffles once instead of twice.
    both = _block_pair_fanout(proj, num_blocks)

    def score_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        lpdf = pdf[pdf["side"] == 0]
        rpdf = pdf[pdf["side"] == 1]
        if not len(lpdf) or not len(rpdf):
            return empty
        a_ids = lpdf["doc_id"].to_numpy(dtype=np.int64)
        b_ids = rpdf["doc_id"].to_numpy(dtype=np.int64)
        a_mat = np.stack(lpdf["vec"].to_numpy()).astype(np.float64)
        b_mat = np.stack(rpdf["vec"].to_numpy()).astype(np.float64)
        a_norm = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norm = np.sqrt((b_mat * b_mat).sum(axis=1))
        sims = (a_mat @ b_mat.T) / np.outer(a_norm, b_norm)
        # same-block groups see each unordered pair twice (left set ==
        # right set): keep strictly-less to drop self-pairs and mirrors.
        # cross-block groups see each pair exactly once but in arbitrary
        # id order: keep all and emit as (min, max).
        keep = sims >= threshold
        if pdf["bi"].iloc[0] == pdf["bj"].iloc[0]:
            keep &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(keep)
        if not len(ai):
            return empty
        pa, pb = a_ids[ai], b_ids[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(pa, pb),
                "id_b": np.maximum(pa, pb),
                "cosine": np.floor(sims[ai, bi] * 1e4) / 1e4,
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        score_blocks, schema="id_a long, id_b long, cosine double"
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs by exact cosine similarity (brute-force
    self-join baseline; for the ANN scale path see similarity.ann_lsh_topk).

    Computed in double precision with a sequential fold (zip_with +
    aggregate) so the DuckDB oracle reproduces it bit-for-bit. For
    throughput, embedding_cosine_pairs_gemm computes the same pairs with
    one BLAS call per Arrow batch.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    v = fan_out(df).select(
        F.col(id_col).alias("doc_id"), vec.alias("vec"), norm.alias("nrm")
    )
    a = v.select(
        F.col("doc_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = v.select(
        F.col("doc_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with("vec_a", "vec_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("nrm_a") * F.col("nrm_b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", quantize(F.col("cosine"), 4).alias("cosine"))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.5,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, public
    algorithm): cluster embeddings with k-means, then search for
    near-duplicates WITHIN each cluster only, and greedily keep the
    lowest id of every near-dup pair.

    The scale story is the clustering itself: candidates come from ONE
    shuffle keyed on the cluster id, so the pair space shrinks from
    O(n^2) to O(sum n_c^2) - with k chosen so clusters stay bounded
    (k ~ n / target_cluster_size; SemDeDup uses tens of thousands), each
    cluster scores as one small GEMM task. A pathologically large
    cluster is the skew case; split it with the triangular block trick
    of embedding_cosine_pairs_gemm before the cogroup if one arises.

    Deterministic contract: a vector is DROPPED iff some same-cluster
    vector with a smaller id has cosine >= threshold with it (greedy by
    id, independent of scan order). Returns (vec_id, cluster, keep) for
    every non-null vector, keep in {0, 1}. Oracle-checkable: centroids
    from kmeans_fit are bit-reproducible, the assignment uses the same
    fold-ordered distance as assign_clusters, and each cluster's
    pairwise cosines come from one numpy GEMM whose float64 sums differ
    from the oracle's sequential list_dot_product fold by ~1e-15 - a
    threshold flip needs a pair EXACTLY on the quantization-free
    boundary (~1e-10/pair odds), the same accepted contract as
    embedding_cosine_pairs_gemm. (An interpreted zip_with-fold join
    computes the identical answer bit-for-bit but walks the expression
    tree per pair element - measured ~3x this whole query at sf0.1.)
    """
    from ghcrawler_datalake_etl_spark.operators.clustering import _best

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = (
        fan_out(df)
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("vec_id"),
            vec.alias("vec"),
            _best(vec, centroids)["cid"].alias("cluster"),
        )
    )
    v = _materialize(v)  # assignment feeds the cogroup AND the output

    def drop_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)[order]
        mat = np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(nrm, nrm)
        iu = np.triu_indices(len(ids), k=1)
        # ids sorted ascending -> the column index is the LARGER id of
        # each (row < col) pair, i.e. the one the greedy rule drops
        hits = np.unique(iu[1][sims[iu] >= threshold])
        return pd.DataFrame({"vec_id": ids[hits]})

    dropped = (
        v.groupby("cluster")
        .applyInPandas(drop_in_cluster, schema="vec_id long")
        .withColumn("_dropped", F.lit(1))
    )
    return (
        v.select("vec_id", "cluster")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


def semantic_postings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """The STANDING store of the incremental semantic screen: every
    non-null corpus vector assigned to its cell under the standing
    quantizer - (cluster, vec_id, vec), the exact frame
    :func:`semantic_dedup` builds internally, made persistable. Write
    as parquet partitioned by cluster at warehouse scale; screen
    arriving batches with :func:`semantic_dedup_incremental`, which
    reads ONLY the batch's own cells. Uses the same fold-ordered
    distance argmin as semantic_dedup/assign_clusters, so the store is
    bit-reproducible and the incremental identity below is exact.
    Maintenance is delta-append (assign the batch, append its rows) -
    the same loop as the IVF postings and the LSH band index; pair with
    clustering.kmeans_refresh when the quantizer itself must track
    drift."""
    from ghcrawler_datalake_etl_spark.operators.clustering import _best

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        fan_out(df)
        .filter(F.col(vec_col).isNotNull())
        .select(
            _best(vec, centroids)["cid"].alias("cluster"),
            F.col(id_col).alias("vec_id"),
            vec.alias("vec"),
        )
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    postings: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.5,
) -> DataFrame:
    """SemDeDup screening of an ARRIVING batch against a STANDING
    postings store (:func:`semantic_postings`) - the embedding-space
    member of the incremental screen family (paragraph / span /
    substring / LSH / boilerplate all have standing twins; this is the
    semantic one). Returns (vec_id, cluster, keep) for every non-null
    batch vector: keep = 0 iff some vector with a SMALLER id - in the
    store or earlier in the batch - shares its cell and has cosine >=
    threshold.

    Exactness contract: with the store built under the SAME standing
    centroids, this equals :func:`semantic_dedup` over the union corpus
    restricted to batch ids (greedy-by-id is scan-order independent, so
    "the store saw it first" and "the smaller id saw it first"
    coincide whenever ids are arrival-ordered) - the identity the
    driver oracle and the hypothesis property pin.

    Cost is O(batch), never O(corpus): the store probe is an equi-join
    on cluster semi-joined to the batch's OWN cells first (cells per
    batch <= k, broadcast), so untouched cells are never read - with
    the postings parquet partitioned by cluster they prune at the scan.
    Each probed cell scores as one |batch_in_cell| x |cell| GEMM row
    block (batch rows only on the left side - store-store pairs are
    never formed).
    """
    from ghcrawler_datalake_etl_spark.operators.clustering import _best

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bv = _materialize(
        fan_out(batch)
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("vec_id"),
            vec.alias("vec"),
            _best(vec, centroids)["cid"].alias("cluster"),
        )
    )
    batch_cells = bv.select("cluster").distinct()
    store_rel = postings.join(F.broadcast(batch_cells), "cluster", "semi")
    union = bv.select(
        "cluster", "vec_id", "vec", F.lit(1).alias("_is_batch")
    ).unionByName(
        store_rel.select(
            "cluster", "vec_id", "vec", F.lit(0).alias("_is_batch")
        )
    )

    def drop_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        if len(pdf) < 2 or not (pdf["_is_batch"] == 1).any():
            return empty
        ids_raw = pdf["vec_id"].to_numpy(dtype=np.int64)
        isb_raw = pdf["_is_batch"].to_numpy()
        # lexsort (stable): primary key vec_id, tie-break store (0)
        # before batch (1). A batch id equal to a store id (a batch
        # re-screened against a store that already absorbed it) then
        # DETERMINISTICALLY counts the store copy as earlier, so the
        # batch copy drops - under plain argsort (unstable quicksort)
        # the verdict silently flipped between runs.
        order = np.lexsort((isb_raw, ids_raw))
        ids = ids_raw[order]
        mat = np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        bidx = np.nonzero(isb_raw[order] == 1)[0]
        # batch rows only on the left: |batch| x |cell|, not |cell|^2
        sims = (mat[bidx] @ mat.T) / np.outer(nrm[bidx], nrm)
        # ids ascending, so "smaller id" == "earlier union position"
        earlier = np.arange(len(ids))[None, :] < bidx[:, None]
        hits = ((sims >= threshold) & earlier).any(axis=1)
        return pd.DataFrame({"vec_id": ids[bidx[hits]]})

    dropped = (
        union.groupby("cluster")
        .applyInPandas(drop_in_cell, schema="vec_id long")
        .withColumn("_dropped", F.lit(1))
    )
    return (
        bv.select("vec_id", "cluster")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


def connected_components(
    pairs_df: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    min-label propagation. Returns (node, cluster_id) for every node
    that appears in at least one pair; cluster_id = the smallest node id
    reachable from it (so the canonical document of each cluster is its
    own cluster_id - "keep the lowest id" dedup falls out directly).

    The genuinely iterative step of a dedup pipeline - not expressible
    as one SQL query (the oracle uses a recursive CTE). Each round every
    node takes the min of its own and its neighbors' labels; converges
    in O(component diameter) rounds. Near-dup components are small
    dense cliques (diameter 1-3), so 2-4 rounds in practice;
    ``max_iterations`` bounds adversarial chains.

    Scale: state is one (node, label) row per distinct node - tiny next
    to the corpus; each round is one shuffle join on node id. The edge
    list is symmetrized once and persisted. For graphs with huge
    components switch to alternating small-star/large-star (same loop
    shape); near-dup workloads never need it.
    """
    edges = pairs_df.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # _checkpoint, not _materialize: sym and labels appear in EVERY
    # round's plan, and labels feeds back into itself - without lineage
    # truncation the loop's logical tree grows geometrically and
    # single-threaded driver planning dominates the wall clock.
    sym, release_sym = _checkpoint_tracked(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    labels, release_labels = _checkpoint_tracked(
        sym.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").alias("label")
        )
    )
    # labels are monotonically non-increasing per node, so the label SUM
    # strictly decreases until the fixpoint: convergence is one cheap
    # aggregate over the already-cached frame instead of an extra
    # old-vs-new join per round. Summed as decimal(38,0): node ids may be
    # 60-bit hashes, whose int64 sum overflows after a handful of rows
    # (ANSI mode would throw mid-iteration).
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_label_sum).collect()[0][0]
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels, release_new = _checkpoint_tracked(
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
        )
        new_sum = new_labels.agg(_label_sum).collect()[0][0]
        # the superseded round's checkpoint blocks otherwise sit in
        # executor storage until driver GC reclaims the old DataFrame -
        # release them as soon as the new round is materialized
        # (round-2 ADVICE)
        release_labels()
        labels, release_labels = new_labels, release_new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    release_sym()
    if handles is not None:
        # the final round's checkpointed state has no internal release;
        # per-micro-batch callers unpersist it after consuming the
        # result (localCheckpoint blocks cannot recompute - the caller
        # must be DONE with the frame)
        handles.append(labels)
    return labels.select("node", F.col("label").alias("cluster_id"))


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
    changed_only: bool = False,
    handles: list[DataFrame] | None = None,
    small_graph_cap: int = 100_000,
) -> DataFrame:
    """Maintain a STANDING cluster table against a batch of NEW edges
    without re-clustering the corpus - the graph-state form of the
    reference's latest-wins daily refresh (ProcessDaily.usql:137-140)
    and the missing piece of the round-9 incremental family:
    dedup_incremental_index finds batch->corpus duplicate PAIRS, this
    folds them (plus within-batch pairs) into the persisted CLUSTERS.

    ``labels`` is (node, cluster_id) with cluster_id = the smallest
    node id of each component (exactly what connected_components
    emits); ``new_edges`` is the batch's pair list, touching standing
    and/or brand-new nodes. Returns the updated (node, cluster_id)
    for the union - identical to re-running connected_components over
    (standing edges UNION new edges), because contracting each
    standing component to its min-id representative preserves
    connectivity and the min label: a merged component's new id is the
    min over its member reps' ids union the new nodes' ids, which IS
    its global min node id.

    Cost scales with the BATCH, never the corpus - with one honest
    caveat: (1) each new edge endpoint resolves to its representative
    via one pass against the standing table; (2) label resolution runs
    on the CONTRACTED graph - O(|new_edges|) edges; (3) standing rows
    relabel through one join against the touched-representative map,
    broadcast when it is dim-sized, and untouched components pass
    through unchanged. Steps (1) and (3) each SCAN the standing table
    once (no shuffle of it - the small side broadcasts - but a scan:
    the relabel key is the OLD cluster id, which no node-keyed layout
    can prune). So the per-fold floor is O(one corpus pass), against
    the full re-cluster's O(pair generation over the corpus + a scan
    per propagation round) - the same pass a daily reporting query
    already pays, not the quadratic candidate regen this operator
    exists to avoid.

    ``changed_only=True`` returns just the DELTA - relabeled standing
    rows plus brand-new nodes - the upsert feed for a cluster table
    maintained through a MERGE sink (untouched rows never leave the
    table, so the write stays bucket-pruned O(changes)). Folding the
    same edges twice is a no-op delta: every contracted edge collapses
    to a self-loop on the second pass, so a replayed micro-batch
    re-merges identical rows (idempotent by the union-find algebra).

    Batches of at most ``small_graph_cap`` edges take a FAST PATH
    built for the per-micro-batch streaming loop: the edge list and
    the touched nodes' standing reps are pulled to the driver (two
    count-gated, provably bounded collects - a few longs per edge,
    the same class as the BPE vocab / k-means centroid pulls), the
    union-find runs locally, and the relabel map / fresh rows ship
    back as broadcast local relations - so the whole fold costs two
    Spark actions instead of the iterative loop's per-round
    checkpoint+aggregate cycle (measured ~4s of fixed overhead per
    fold on a 1k-edge batch). Larger batches take the distributed
    contract-then-propagate path; the directed test and hypothesis
    property pin both arms row-identical.
    """
    from pyspark.sql.types import StructField, StructType

    id_type = new_edges.schema[src_col].dataType
    spark = labels.sparkSession

    def _pair_schema(a: str, b: str) -> StructType:
        return StructType(
            [StructField(a, id_type), StructField(b, id_type)]
        )

    edge_head = (
        new_edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .limit(small_graph_cap + 1)
        .collect()
        if small_graph_cap > 0
        else None
    )
    if edge_head is not None and len(edge_head) <= small_graph_cap:
        # ---- fast path: local union-find over the collected batch ----
        node_list = []
        seen = set()
        for a, b in edge_head:
            for x in (a, b):
                if x is not None and x not in seen:
                    seen.add(x)
                    node_list.append(x)
        nodes_local = spark.createDataFrame(
            [(x,) for x in node_list],
            StructType([StructField("_n", id_type)]),
        )
        # standing reps for the touched nodes only: bounded collect #2
        standing_rep = {
            r["_n"]: r[cluster_col]
            for r in labels.join(
                F.broadcast(nodes_local),
                labels[node_col] == nodes_local["_n"],
            )
            .select("_n", cluster_col)
            .collect()
        }
        rep = {x: standing_rep.get(x, x) for x in node_list}
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a, b in edge_head:
            if a is None or b is None or a == b:
                continue
            ra, rb = find(rep[a]), find(rep[b])
            if ra != rb:
                # attach the larger root under the smaller: every
                # set's root stays its min element, matching the
                # distributed min-label propagation exactly
                parent[max(ra, rb)] = min(ra, rb)
        relabel = F.broadcast(
            spark.createDataFrame(
                [(x, find(x)) for x in list(parent) if find(x) != x],
                _pair_schema("node", "cluster_id"),
            )
        )
        fresh = spark.createDataFrame(
            [
                (x, find(rep[x]))
                for x in node_list
                if x not in standing_rep
            ],
            _pair_schema("node", "cluster_id"),
        )
    else:
        # ---- distributed path: contract, propagate, relabel ----
        # the edge list fans out to four consumers (both union sides
        # of the node set, the contraction join, and every propagation
        # round); when new_edges carries an expensive subtree (e.g. an
        # LSH screen), computing it once keeps the fold
        # batch-proportional instead of batch-x-consumers
        edges_m = _materialize(
            new_edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
        )
        # nodes come from the UNFILTERED edge list: connected_components
        # emits a singleton row for a node whose only pair is a
        # self-edge, and the incremental result must match the full
        # re-run row-for-row
        nodes = (
            edges_m.select(F.col("src").alias("n"))
            .union(edges_m.select(F.col("dst").alias("n")))
            .filter(F.col("n").isNotNull())
            .distinct()
        )
        edges = edges_m.filter(F.col("src") != F.col("dst"))
        # rep(x): the standing cluster id when x is a known node, else
        # x itself (a brand-new node is its own representative)
        rep_df = _materialize(
            nodes.join(
                labels, nodes["n"] == labels[node_col], "left"
            ).select(
                F.col("n").alias("node"),
                F.coalesce(F.col(cluster_col), F.col("n")).alias("rep"),
                F.col(node_col).isNotNull().alias("standing"),
            )
        )
        ra = rep_df.select(
            F.col("node").alias("src"), F.col("rep").alias("rep_a")
        )
        rb = rep_df.select(
            F.col("node").alias("dst"), F.col("rep").alias("rep_b")
        )
        contracted = (
            edges.join(ra, "src")
            .join(rb, "dst")
            .select(
                F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b")
            )
            # an edge inside one standing cluster contracts to a
            # self-loop: nothing to merge, and dropping it keeps that
            # rep out of the propagation entirely
            .filter(F.col("id_a") != F.col("id_b"))
        )
        relabel = _materialize(
            connected_components(
                contracted, "id_a", "id_b",
                max_iterations=max_iterations, handles=handles,
            ).filter(F.col("node") != F.col("cluster_id"))
        )
        if handles is not None:
            # same release contract as incremental_lsh_dedup: the
            # per-micro-batch caller unpersists the fold's internal
            # materializations after consuming the delta
            handles.extend([edges_m, rep_df, relabel])
        if relabel.count() <= _BROADCAST_ID_CAP:
            relabel = F.broadcast(relabel)
        # brand-new nodes: rep -> relabeled rep when its component
        # merged
        fresh = (
            rep_df.filter(~F.col("standing"))
            .join(
                relabel.select(
                    F.col("node").alias("rep"),
                    F.col("cluster_id").alias("_new"),
                ),
                "rep",
                "left",
            )
            .select("node", F.coalesce("_new", "rep").alias("cluster_id"))
        )
    # standing rows: one pass, join on the OLD cluster id (= the rep);
    # changed_only turns the pass into an inner join - only touched
    # components' rows survive, the MERGE feed
    relabel_keyed = relabel.select(
        F.col("node").alias(cluster_col),
        F.col("cluster_id").alias("_new"),
    )
    if changed_only:
        updated = labels.join(relabel_keyed, cluster_col).select(
            F.col(node_col).alias("node"), F.col("_new").alias("cluster_id")
        )
    else:
        updated = labels.join(relabel_keyed, cluster_col, "left").select(
            F.col(node_col).alias("node"),
            F.coalesce("_new", F.col(cluster_col)).alias("cluster_id"),
        )
    return updated.unionByName(fresh)


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Materialized (doc_id, sh) shingle frame (empty docs dropped) and
    its inverted index (doc_id, shingle-hash). Same construction and
    60-bit-hash convention as ngram_jaccard_pairs; see that docstring
    for why the filter sits above the materialization."""
    sh = _materialize(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            shingles(F.col(text_col), n).alias("sh"),
        )
    ).filter(F.size("sh") > 0)
    inv = sh.select("doc_id", F.explode("sh").alias("_s")).select(
        "doc_id", stable_long_hash(F.col("_s")).alias("shingle")
    )
    return sh, inv


def duplicate_span_fraction(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """First-occurrence span-dedup report (the C4/RefinedWeb move: keep a
    repeated span only where the corpus first saw it): for each document,
    the fraction of its distinct n-gram shingles already present in any
    EARLIER document (smaller id = earlier corpus position).

    Downstream either drops high-``dup_frac`` docs or rewrites them; the
    report form keeps the operator composable with either policy.

    Scale: one explode -> one whole-partition window min() per shingle
    hash (a single exchange; the index subtree is computed once, not on
    both sides of an agg+join) -> one count per doc. No pairwise
    candidate blow-up, no shingle strings past the first projection.
    """
    _, inv = _shingle_index(df, id_col, text_col, n)
    # first-occurrence id via a whole-partition window min instead of
    # groupBy + join back: the explode+hash inverted-index subtree used
    # to be computed on both sides of that self-join; the window
    # computes it once with one Exchange on the shingle hash
    return (
        inv.withColumn(
            "first_id",
            F.min("doc_id").over(Window.partitionBy("shingle")),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_id") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            quantize(
                F.col("n_dup").cast("double") / F.col("n_shingles"), 4
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """Exact cross-document substring REMOVAL at token granularity -
    the Lee et al. 2021 "Deduplicating Training Data Makes Language
    Models Better" operator (their ExactSubstr, re-expressed over
    per-window content digests instead of a suffix array): every
    ``min_tokens``-token window is md5-digested over its space-joined
    tokens - tokens are alphanumeric-only (``tokenize``), so the join
    is injective and the digest identifies the exact token sequence
    (failure mode = an md5 collision, ~2^-128 per pair; at 10^13
    windows the expected collision count is ~1e-12, unlike a 31-bit
    rolling hash whose false removals would saturate at corpus
    scale). A window whose digest already occurred EARLIER in the
    corpus (corpus order = (doc_id, position); the first occurrence
    survives) marks a duplicate span, and every token covered by at
    least one duplicate span is cut. Survivors reassemble in order, single-space joined
    (tokenization normalizes whitespace/case - the standard trade for
    an exact token-level spec). Complements duplicate_span_fraction
    (which only REPORTS the overlap) and drop_duplicate_paragraphs
    (delimiter-aligned spans).

    Returns one row per input document: (doc_id, n_tokens, n_removed,
    text_clean) - docs shorter than ``min_tokens`` (and empty/null
    docs) pass through untouched with n_removed = 0.

    Scale: gram digesting is array-side per row (O(tokens x
    min_tokens) work, no shuffle, computed ONCE); the global
    first-occurrence pass is one whole-partition window min() over the
    digest - a single exchange keyed on the digest (a 32-char string -
    4x the shuffle bytes of a long key, the price of
    collision-safety); coverage is
    one per-doc window over token rows (rows = corpus token count,
    partitioned by doc). No pairwise blow-up anywhere - the
    corpus-wide work is linear in total tokens, the same budget as the
    winnowing fingerprint pass.
    """
    k = min_tokens
    base = _substr_base(df, id_col, text_col)
    grams = _substr_grams(base, k)
    # first-occurrence via a whole-partition window min instead of
    # groupBy + join back: the gram-digest subtree (O(tokens x k) md5s)
    # used to sit on BOTH sides of that self-join and was computed
    # twice per action; the window computes it once and needs one
    # Exchange on gh instead of two (agg + join)
    w_gh = Window.partitionBy("gh")
    dup_starts = (
        grams.withColumn(
            "fst", F.min(F.struct("doc_id", "pos")).over(w_gh)
        )
        .filter(
            (F.col("doc_id") != F.col("fst.doc_id"))
            | (F.col("pos") != F.col("fst.pos"))
        )
        .select("doc_id", F.col("pos").alias("j"), F.lit(1).alias("ds"))
    )
    return _substr_cut(df, base, dup_starts, id_col, k)


def _substr_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, toks) projection shared by the ExactSubstr family,
    materialized once (two consumers: window digesting + token rows)."""
    return _materialize(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            tokenize(F.col(text_col)).alias("toks"),
        )
    )


def _substr_grams(base: DataFrame, k: int) -> DataFrame:
    """One row per k-token window: (doc_id, pos, gh) with pos the
    1-based window start and gh the md5 content digest of the
    space-joined window tokens (injective - see
    remove_duplicate_substrings)."""
    nwin = F.greatest(F.size("toks") - (k - 1), F.lit(0))
    gh_arr = F.when(
        nwin == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.md5(F.array_join(F.slice(F.col("toks"), i, k), " ")),
        )
    )
    return base.select(
        "doc_id", F.posexplode(gh_arr).alias("pos0", "gh")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gh")


def _substr_cut(
    df: DataFrame, base: DataFrame, dup_starts: DataFrame,
    id_col: str, k: int,
) -> DataFrame:
    """Shared removal tail: k-wide running-max coverage over token
    rows, in-order reassembly, pass-through restore of empty/null
    docs. ``dup_starts`` is (doc_id, j, ds=1) - the duplicate window
    START positions."""
    tok_rows = base.select(
        "doc_id", F.posexplode("toks").alias("j0", "tok")
    ).select("doc_id", (F.col("j0") + 1).alias("j"), "tok")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("j")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    flagged = (
        tok_rows.join(dup_starts, ["doc_id", "j"], "left")
        .withColumn("rm", F.max(F.coalesce("ds", F.lit(0))).over(w))
    )
    cleaned = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("rm").cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rm") == 0, F.struct("j", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    # empty/null docs produce no token rows; restore them untouched
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def substring_window_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """The STANDING state of cross-document substring removal: the
    distinct md5 content digest of every ``min_tokens``-token window
    in ``df`` - one 32-char string per row, parquet-persistable,
    mergeable by DISTINCT union (the window-granularity sibling of
    paragraph_hash_index / winnow_index, completing the screen-store
    family with the Lee et al. REMOVAL grain). Unlike the winnow
    store this is LINEAR in corpus tokens (every window, not the
    ~2/(window+1) minima) - the price of removal semantics: the
    screen must know EVERY seen window, not just a sketch."""
    k = min_tokens
    return _substr_grams(
        _substr_base(df, id_col, text_col), k
    ).select("gh").distinct()


def remove_duplicate_substrings_incremental(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """ExactSubstr removal of an ARRIVING batch against a STANDING
    corpus via its persisted window-digest index
    (``substring_window_index``): a batch window is cut if its digest
    is in the store (the corpus saw that exact token run first -
    whenever it arrived, it arrived earlier) OR an earlier batch
    position already carried it; covered tokens are removed and
    survivors reassemble exactly as in the batch operator. Returns
    the same (doc_id, n_tokens, n_removed, text_clean) shape - and
    when every corpus id precedes every batch id, the union of the
    corpus's own ``remove_duplicate_substrings`` with this screen IS
    the batch operator over the whole collection (the driver oracle
    pins exactly that identity; a hypothesis property pins it over
    arbitrary splits).

    100-TB shape: the arriving batch never touches corpus TEXT - only
    the digest store (one equi-join on the 32-char digest); the daily
    append is ``substring_window_index(batch)`` unioned DISTINCT into
    the store, the same delta-append loop the LSH band / paragraph /
    winnow stores run. Batch-side cost is linear in batch tokens."""
    k = min_tokens
    base = _substr_base(batch, id_col, text_col)
    grams = _substr_grams(base, k)
    # within-batch first occurrence via a whole-partition window min
    # (one gram-digest computation, one Exchange on gh - see
    # remove_duplicate_substrings); the standing-store probe stays an
    # equi-join on the digest
    w_gh = Window.partitionBy("gh")
    dup_starts = (
        grams.withColumn(
            "fst", F.min(F.struct("doc_id", "pos")).over(w_gh)
        )
        .join(
            index.select(F.col("gh"), F.lit(1).alias("_in_idx")),
            "gh",
            "left",
        )
        .filter(
            F.col("_in_idx").isNotNull()
            | (F.col("doc_id") != F.col("fst.doc_id"))
            | (F.col("pos") != F.col("fst.pos"))
        )
        .select("doc_id", F.col("pos").alias("j"), F.lit(1).alias("ds"))
    )
    return _substr_cut(batch, base, dup_starts, id_col, k)


def drop_duplicate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup (the Dolma/Gopher preprocessing
    shape): split each document on ``sep``, drop every paragraph whose
    exact text already occurred EARLIER in the corpus (order =
    (doc_id, paragraph index); the first occurrence survives), and
    reassemble the survivors in order, ``sep``-joined. Blank paragraphs
    (empty after trim) are document structure, not content - they are
    never deduped and always pass through. Complements clean_lines
    (which filters boilerplate WITHIN one document, not across the
    corpus).

    Returns (doc_id, n_paras, n_dropped, text_clean) for every input
    document (null text behaves as '').

    Scale: one shuffle keyed on the paragraph md5 for the
    first-occurrence row_number (paragraph TEXT never shuffles - only
    the 32-char digest and the (doc_id, idx) coordinates), then one
    groupBy back on doc_id for reassembly. Linear in paragraph count.
    """
    import re as _re

    paras = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("pno0", "para"),
    ).select("doc_id", (F.col("pno0") + 1).alias("pno"), "para")
    blank = F.trim(F.col("para")) == ""
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "pno")
    ranked = paras.withColumn(
        "keep", blank | (F.row_number().over(w) == 1)
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pno", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
        .select("doc_id", "n_paras", "n_dropped", "text_clean")
    )


def winnow_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
) -> DataFrame:
    """The STANDING state of span-overlap screening: the distinct
    winnowing fingerprints (text.winnow_fingerprints - the MOSS
    sketch) of every document in ``df``, one long per row. Narrow,
    parquet-persistable, mergeable by DISTINCT union, and SUBLINEAR in
    corpus tokens (winnowing keeps ~2/(window+1) of positions) - the
    span-granularity sibling of lsh_band_index / paragraph_hash_index.
    The winnowing guarantee carries over: any shared token run of
    length >= window between an arriving doc and ANY corpus doc shares
    at least one fingerprint with the store. Fingerprints live in the
    63-bit token_hashes_wide space (store cardinality is bounded by
    vocabulary - window minima ARE token hashes - so even a
    10^9-token vocabulary leaves the append-forever store's false-hit
    rate at ~1e-10 per lookup, where the 31-bit space would
    saturate)."""
    from ghcrawler_datalake_etl_spark.operators.text import (
        token_hashes_wide as _th,
        winnow_fingerprints as _wf,
    )

    # th gets its OWN projection: the window mins below scan it once
    # per position, and CollapseProject keeps a multiply-referenced
    # non-cheap alias in its own stage - inlining the md5 fold into
    # every slice would recompute it positions x window times (the
    # token_hashes hot-path discipline)
    th = fan_out(df).select(
        _th(tokenize(F.col(text_col))).alias("th")
    )
    # explode_OUTER + post-generate null filter, NOT plain explode:
    # Catalyst infers a size(...)>0 filter from a plain explode and
    # predicate pushdown substitutes every alias on the way down, so
    # the whole fingerprint expression - md5 fold included, inside
    # every window slice - lands in a second pre-shuffle Filter
    # evaluation (measured 15s/5s pathologies on both sides of the
    # sf0.1 query). The outer generate infers nothing; the null filter
    # sits ABOVE the generator on a plain attribute and cannot sink.
    fps = th.select(_wf(F.col("th"), window).alias("fps"))
    return (
        fps.select(F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )


def span_overlap_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
) -> DataFrame:
    """Span-overlap screen of an ARRIVING batch against a standing
    winnowing-fingerprint store: per batch document, how many of its
    fingerprints the corpus has seen ((doc_id, n_fps, n_hit,
    overlap_frac) - frac floor-quantized to 4 digits; docs too short
    to fingerprint report 0). The incremental form of
    duplicate_span_fraction: downstream drops/flags high-overlap
    arrivals WITHOUT scanning corpus text - one equi-join of the
    batch's exploded fingerprints against the store.

    Scale: batch-side cost only (fingerprints are array-side per row);
    the join shuffles (fp, doc_id) pairs - winnowing keeps that
    sublinear in batch tokens; the store never recomputes. Daily
    append = winnow_index(batch) unioned DISTINCT into the store -
    sound append-forever because the 63-bit fingerprint space (see
    winnow_index) keeps false hits ~1e-10 at any realistic vocabulary."""
    from ghcrawler_datalake_etl_spark.operators.text import (
        token_hashes_wide as _th,
        winnow_fingerprints as _wf,
    )

    th = fan_out(batch).select(
        F.col(id_col).alias("doc_id"),
        _th(tokenize(F.col(text_col))).alias("th"),
    )
    fps = th.select("doc_id", _wf(F.col("th"), window).alias("fps"))
    # explode_OUTER, deliberately: (a) a print-less doc keeps one
    # null-fp row, so every batch doc survives to the aggregate with
    # no join back; (b) the plain explode's inferred size(...)>0
    # filter would inline the whole fingerprint expression (md5 fold
    # included) into a second, pre-shuffle evaluation - measured 5s of
    # pure recompute on the sf0.1 screen
    rows = fps.select("doc_id", F.explode_outer("fps").alias("fp"))
    return (
        rows.join(
            index.select("fp", F.lit(1).alias("_hit")), "fp", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("fp").cast("long").alias("n_fps"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_fps",
            "n_hit",
            quantize(
                F.when(F.col("n_fps") == 0, F.lit(0.0)).otherwise(
                    F.col("n_hit").cast("double") / F.col("n_fps")
                ),
                4,
            ).alias("overlap_frac"),
        )
    )


def paragraph_hash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """The STANDING state of corpus-wide paragraph dedup: the distinct
    md5 of every non-blank paragraph in ``df`` - one 32-char string
    per distinct paragraph, parquet-persistable, mergeable by plain
    DISTINCT union (the paragraph-granularity sibling of
    lsh_band_index). Blank paragraphs are structure, not content, and
    never enter the index."""
    import re as _re

    return (
        fan_out(df)
        .select(
            F.explode(
                F.split(
                    F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep)
                )
            ).alias("para")
        )
        .filter(F.trim(F.col("para")) != "")
        .select(F.md5("para").alias("para_hash"))
        .distinct()
    )


def drop_duplicate_paragraphs_incremental(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph dedup of an ARRIVING batch against a STANDING corpus
    via its persisted paragraph-hash index: a batch paragraph drops if
    its hash is in the index (the corpus saw it first - whenever it
    arrived, it arrived earlier) OR an earlier batch position already
    carried it; blanks always pass through. Returns the same
    (doc_id, n_paras, n_dropped, text_clean) shape as the batch
    operator - and when every corpus id precedes every batch id, the
    union of the corpus's own dedup with this screen IS
    drop_duplicate_paragraphs over the whole collection (the driver
    oracle pins exactly that identity).

    100-TB shape: the arriving batch never touches corpus TEXT - only
    the hash store (one equi-join on the digest); the daily append is
    ``paragraph_hash_index(batch)`` unioned DISTINCT into the store,
    the same delta-append loop the LSH band index runs.
    """
    import re as _re

    paras = fan_out(batch).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("pno0", "para"),
    ).select("doc_id", (F.col("pno0") + 1).alias("pno"), "para")
    blank = F.trim(F.col("para")) == ""
    hashed = paras.withColumn("_h", F.md5("para"))
    flagged = hashed.join(
        index.select(
            F.col("para_hash").alias("_h"), F.lit(1).alias("_in_idx")
        ),
        "_h",
        "left",
    )
    w = Window.partitionBy("_h").orderBy("doc_id", "pno")
    keep = blank | (
        F.col("_in_idx").isNull() & (F.row_number().over(w) == 1)
    )
    return (
        flagged.withColumn("keep", keep)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pno", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
        .select("doc_id", "n_paras", "n_dropped", "text_clean")
    )


def contamination_report(
    df: DataFrame,
    eval_df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    eval_pred: Column | None = None,
) -> DataFrame:
    """Benchmark decontamination: per candidate document, how many of its
    distinct n-gram shingles appear anywhere in an evaluation/benchmark
    set. Rows with n_eval_hits = 0 are kept (the report must cover every
    candidate so a filter on it is total).

    Scale: the eval side collapses to DISTINCT shingle hashes first -
    for real benchmark suites that is millions of rows against a corpus
    of trillions, so the join is broadcast-eligible; candidates shuffle
    once on the hash.

    When the eval set is a SLICE OF THE SAME CORPUS, pass ``eval_pred``
    (a predicate over ``doc_id``) instead of ``eval_df``: both sides
    then derive from ONE shingle index - a single shingle pass, sharing
    the cache slot with the other shingle consumers (jaccard, minhash,
    span-dedup) - instead of shingling two filtered sub-frames neither
    of which can reuse anything.
    """
    if eval_pred is not None:
        full_sh, full_inv = _shingle_index(df, id_col, text_col, n)
        sh = full_sh.filter(~eval_pred)
        inv = full_inv.filter(~eval_pred)
        eval_grams = full_inv.filter(eval_pred).select("shingle").distinct()
    else:
        sh, inv = _shingle_index(df, id_col, text_col, n)
        eval_grams = (
            _shingle_index(eval_df, id_col, text_col, n)[1]
            .select("shingle")
            .distinct()
        )
    hits = (
        inv.join(eval_grams, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_hits"))
    )
    sizes = sh.select("doc_id", F.size("sh").alias("n_shingles"))
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_eval_hits", F.lit(0)).alias("n_eval_hits"),
        quantize(
            F.coalesce("n_eval_hits", F.lit(0)).cast("double")
            / F.col("n_shingles"),
            4,
        ).alias("contam_frac"),
    )


#: conservative per-row estimate for a (node, cluster_id) frame when
#: sizing the broadcast decision: two longs or a short string id plus
#: row overhead.
_CLUSTER_ROW_EST_BYTES = 48


def _size_bytes(conf_value: str) -> int:
    """Parse a Spark byte-size conf string ('10MB', '10485760b',
    '-1') into bytes; -1 means broadcast disabled."""
    s = conf_value.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    return int(s) * mult


def keep_best_per_cluster(
    scored: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    broadcast_clusters: bool | None = None,
) -> DataFrame:
    """Quality-aware near-duplicate resolution: given per-document
    scores and a (node, cluster_id) near-dup clustering (e.g.
    connected_components over minhash_lsh_pairs), keep each cluster's
    HIGHEST-scoring member - the curation policy real pipelines want
    (canonical-by-min-id keeps an arbitrary copy; this keeps the best
    one). Ties break by id ascending. Documents in no cluster keep
    themselves, reported with cluster_id = their own id (a singleton is
    its own cluster - no NULLs in the output).

    Scale shape: with broadcast both the winner join and the singleton
    anti-join broadcast the clusters frame and the corpus is scanned
    once, shuffle-free - right whenever cluster membership is small
    next to the corpus. On web-scale corpora near-dup nodes routinely
    cover a LARGE fraction of the documents; a forced broadcast then
    hits Spark's broadcast size ceiling and fails the job, so the
    non-broadcast arm takes plain shuffle joins (both sides
    hash-exchange on ``id_col``; same results, mirrors
    enrich_with_dim's broadcast_dim flag). The winner window always
    partitions by cluster_id - its cost scales with clustered rows
    either way.

    ``broadcast_clusters=None`` (default, VERDICT r4 #7) DECIDES BY
    MEASUREMENT, the dense_rewrite_fraction pattern: one count of the
    clusters frame (cheap - CC output arrives localCheckpointed), then
    broadcast only if the estimated frame size
    (rows x _CLUSTER_ROW_EST_BYTES) fits the session's
    spark.sql.autoBroadcastJoinThreshold; a threshold of -1 (broadcast
    disabled) always takes the shuffle arm. Pass True/False to pin an
    arm explicitly.
    """
    if broadcast_clusters is None:
        thr = _size_bytes(
            scored.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10m"
            )
        )
        broadcast_clusters = (
            thr > 0 and clusters.count() * _CLUSTER_ROW_EST_BYTES <= thr
        )
    c = clusters.select(F.col("node").alias(id_col), "cluster_id")
    maybe_b = F.broadcast if broadcast_clusters else (lambda df: df)
    members = scored.join(maybe_b(c), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.col(id_col).asc()
    )
    winners = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    singles = scored.join(
        maybe_b(c.select(id_col)), id_col, "left_anti"
    ).withColumn("cluster_id", F.col(id_col))
    return winners.unionByName(singles)
