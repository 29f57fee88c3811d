"""Property-based tests (hypothesis) for operator equivalences.

Each property pins an algebraic identity the engine relies on:
- the max_by dedup strategy is a drop-in for the window strategy
- salted joins are result-identical to plain joins (incl. nulls)
- the winnowing guarantee: a shared >=window token run shares a print
- the rolling hash composes: h(A||B) == (h(A)*B^|B| + h(B)) mod P

Spark round-trips are slow, so examples are few but shrinkable; the
deadline is disabled (JVM warmup would trip it).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ghcrawler_datalake_etl_spark.functions.core import latest_by
from ghcrawler_datalake_etl_spark.operators import joins as JN
from ghcrawler_datalake_etl_spark.operators import text as TX
from ghcrawler_datalake_etl_spark.sources import ivm

SETTINGS = dict(max_examples=10, deadline=None, derandomize=True)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 4),                       # key (few values -> ties)
        st.integers(0, 5),                       # ts day offset (ties likely)
        st.integers(0, 100),                     # payload
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(rows_strategy)
def test_latest_by_window_equals_maxby(spark, rows):
    df = spark.createDataFrame(
        [(k, f"2024-01-0{t + 1} 00:00:00", v) for k, t, v in rows],
        "k long, ts string, v long",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    order = [F.col("ts"), F.col("v")]
    a = latest_by(df, ["k"], order, strategy="window")
    b = latest_by(df, ["k"], order, strategy="max_by")
    ra = sorted(map(tuple, a.select("k", "ts", "v").collect()))
    rb = sorted(map(tuple, b.select("k", "ts", "v").collect()))
    assert ra == rb


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 3)), st.integers(0, 9)),
        min_size=0, max_size=20,
    ),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 9)),
             min_size=0, max_size=6),
    st.sampled_from(["inner", "left"]),
    st.integers(1, 5),
)
def test_salted_join_equals_plain_join(spark, left_rows, right_rows, how, n_salt):
    left = spark.createDataFrame(left_rows, "k long, v long")
    right = spark.createDataFrame(
        right_rows, "k long, w long"
    ).dropDuplicates(["k"])
    plain = left.join(right, ["k"], how).select("k", "v", "w")
    salted = JN.salted_join(left, right, ["k"], how, n_salt=n_salt).select(
        "k", "v", "w"
    )
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    assert sorted(map(tuple, plain.collect()), key=key) == sorted(
        map(tuple, salted.collect()), key=key
    )


@settings(**SETTINGS)
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=4, max_size=12),
    st.lists(st.sampled_from("stuvwxyz"), min_size=0, max_size=6),
    st.lists(st.sampled_from("stuvwxyz"), min_size=0, max_size=6),
)
def test_winnowing_shared_run_guarantee(spark, shared, pre, post):
    """Two documents containing the same >=window-length token run must
    share at least one winnowing fingerprint (the MOSS guarantee)."""
    doc_a = " ".join(shared)
    doc_b = " ".join(pre + shared + post)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], "id long, text string")
    th = TX.token_hashes(TX.tokenize(F.col("text")))
    got = {
        r.id: set(r.fps)
        for r in df.select(
            "id", TX.winnow_fingerprints(th, window=4).alias("fps")
        ).collect()
    }
    assert got[1] & got[2], (doc_a, doc_b)


@settings(**SETTINGS)
@given(
    st.lists(st.sampled_from(["tok", "en", "xyz", "12", "q"]),
             min_size=0, max_size=8),
    st.lists(st.sampled_from(["tok", "en", "xyz", "12", "q"]),
             min_size=0, max_size=8),
)
def test_rolling_hash_composes(spark, a_toks, b_toks):
    """h(A||B) == (h(A) * B^|B| + h(B)) mod P - the Rabin-Karp identity
    that makes the hash 'rolling' (checked against the Spark output)."""
    df = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks)),
         (3, " ".join(a_toks + b_toks))],
        "id long, text string",
    )
    th = TX.token_hashes(TX.tokenize(F.col("text")))
    got = {
        r.id: r.h
        for r in df.select(
            "id", TX.rolling_hash_from_hashes(th).alias("h")
        ).collect()
    }
    expect = (
        got[1] * pow(TX.ROLL_B, len(b_toks), TX.ROLL_P) + got[2]
    ) % TX.ROLL_P
    assert got[3] == expect


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.floats(-10, 10, allow_nan=False, width=32),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_int8_quantization_bounds_and_error(spark, vecs):
    """Codes stay in [-127, 127]; dequantized values reconstruct the
    original within half a quantization step (|x| <= max|x|/254 + eps)."""
    from ghcrawler_datalake_etl_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["q8"], r["scale"])
        for r in quantize_embeddings_int8(df, "vec_id", "embedding").collect()
    }
    for i, v in enumerate(vecs):
        q8, scale = out[i]
        assert all(-127 <= q <= 127 for q in q8)
        mx = max(abs(x) for x in v)
        if mx == 0:
            assert scale == 0 and all(q == 0 for q in q8)
            continue
        step = mx / 127.0
        for x, q in zip(v, q8):
            assert abs(q * step - x) <= step / 2 + 1e-4 * mx


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_span_fraction_bounds_and_first_doc_clean(spark, docs):
    """dup_frac in [0,1]; the earliest doc never has a duplicated span;
    identical docs after the first are 100% duplicated."""
    from ghcrawler_datalake_etl_spark.operators.dedup import (
        duplicate_span_fraction,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in duplicate_span_fraction(df, "doc_id", "text", n=3).collect()
    }
    if got:
        first = min(got)
        assert got[first]["n_dup"] == 0
    for r in got.values():
        assert 0 <= r["n_dup"] <= r["n_shingles"]
        assert 0.0 <= r["dup_frac"] <= 1.0
    # exact duplicate of the first doc -> everything already seen
    dup_rows = rows + [(len(rows), rows[0][1])]
    df2 = spark.createDataFrame(dup_rows, "doc_id long, text string")
    got2 = {
        r["doc_id"]: r
        for r in duplicate_span_fraction(df2, "doc_id", "text", n=3).collect()
    }
    if len(rows[0][1].split()) >= 3:
        assert got2[len(rows)]["dup_frac"] == 1.0


@settings(**SETTINGS)
@given(
    st.lists(st.text(alphabet="ab c", min_size=0, max_size=60),
             min_size=1, max_size=8),
    st.integers(2, 6),
    st.integers(0, 3),
)
def test_chunk_windows_cover_and_reconstruct(spark, texts, chunk, overlap):
    """Chunking invariants for any doc/chunk/overlap combination:
    (1) stride-aligned prefixes of each chunk concatenate back to the
    full token stream (no token lost or duplicated outside overlaps);
    (2) every chunk except the last has exactly `chunk` tokens' worth of
    coverage obligations met (len == chunk), the last keeps the tail."""
    from ghcrawler_datalake_etl_spark.operators.text import (
        chunk_token_windows, tokenize,
    )
    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = {
        r.doc_id: r.t
        for r in df.select("doc_id", tokenize("text").alias("t")).collect()
    }
    out = chunk_token_windows(df, "doc_id", "text", chunk=chunk,
                              overlap=overlap)
    by_doc = {}
    for r in sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, expected in toks.items():
        rows = by_doc.get(doc_id, [])
        if not expected:
            assert rows == []
            continue
        rebuilt = []
        for i, r in enumerate(rows):
            ts = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(ts) == r.chunk_n_tokens
            if i < len(rows) - 1:
                rebuilt.extend(ts[:stride])
            else:
                rebuilt.extend(ts)
        assert rebuilt == expected, (doc_id, chunk, overlap)


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 500), st.sampled_from(["en", "de", "zh"])),
             min_size=0, max_size=30),
)
def test_stratified_sample_is_per_stratum_hash_sample(spark, rows):
    """stratified_sample == the union of hash_sample applied per stratum
    at that stratum's fraction (and strata without fractions drop)."""
    from ghcrawler_datalake_etl_spark.operators.sampling import (
        hash_sample, stratified_sample,
    )
    df = spark.createDataFrame(rows, "k long, lang string")
    fr = {"en": 0.5, "de": 0.25}
    got = sorted(map(tuple,
        stratified_sample(df, "k", "lang", fr, seed=7).collect()))
    want = []
    for s, f in fr.items():
        want.extend(map(tuple,
            hash_sample(df.filter(F.col("lang") == s), "k", f, seed=7)
            .collect()))
    assert got == sorted(want)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000),              # key (dups possible)
            st.one_of(st.none(), st.floats(0, 500, allow_nan=False)),
        ),
        min_size=0,
        max_size=40,
    ),
    st.integers(1, 6),                           # num_bins
)
def test_pack_shards_equals_single_window_form(spark, rows, num_bins):
    """pack_shards' quantile-binned two-level cumsum must equal the
    reference single-window global cumsum for ANY keys/weights
    (duplicates, NULL weights, empty input) and ANY bin count - the
    identity the de-persist rewrite (round 3) has to preserve."""
    from pyspark.sql import Window

    from ghcrawler_datalake_etl_spark.operators.sampling import pack_shards

    # de-dup keys: exclusive cumsum over tied keys is order-dependent
    # (documented contract: key_col is a unique id)
    seen, uniq = set(), []
    for k, w in rows:
        if k not in seen:
            seen.add(k)
            uniq.append((k, w))
    df = spark.createDataFrame(uniq, "k long, wt double") if uniq else (
        spark.createDataFrame([], "k long, wt double")
    )
    got = sorted(
        map(tuple, pack_shards(df, "k", "wt", 100, num_bins=num_bins).collect())
    )
    ref = sorted(
        map(
            tuple,
            df.withColumn(
                "shard_id",
                F.floor(
                    F.coalesce(
                        F.sum(F.coalesce(F.col("wt"), F.lit(0.0))).over(
                            Window.orderBy("k").rowsBetween(
                                Window.unboundedPreceding, -1
                            )
                        ),
                        F.lit(0.0),
                    )
                    / 100.0
                ).cast("long"),
            ).collect(),
        )
    )
    assert got == ref



@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.sampled_from(["a", "b", "c", "x"])),
        min_size=0, max_size=40, unique_by=lambda t: t[0],
    ),
    st.dictionaries(
        st.sampled_from(["a", "b", "c"]), st.integers(1, 500_000),
        min_size=1, max_size=3,
    ),
)
def test_target_mix_exact_proportions_property(spark, rows, target):
    """For ANY corpus and target: per-group counts equal exactly
    floor(ppm_g * T / 1e6) with T = min_g(n_g * 1e6 div ppm_g); groups
    outside the target never appear; empty target-group => empty carve."""
    from ghcrawler_datalake_etl_spark.operators.sampling import (
        BUCKETS,
        target_mix_sample,
    )

    df = spark.createDataFrame(rows, "doc_id long, grp string") if rows else (
        spark.createDataFrame([], "doc_id long, grp string")
    )
    got = target_mix_sample(df, "doc_id", "grp", target).collect()
    have = {}
    for _, g in rows:
        have[g] = have.get(g, 0) + 1
    t = min((have.get(g, 0) * BUCKETS) // p for g, p in target.items())
    want = {g: (p * t) // BUCKETS for g, p in target.items()}
    by_grp = {}
    for r in got:
        by_grp[r.grp] = by_grp.get(r.grp, 0) + 1
    assert by_grp == {g: n for g, n in want.items() if n > 0}


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 100),
            st.sampled_from(["a", "b"]),
            st.integers(0, 5),  # few values -> boundary ties guaranteed
        ),
        min_size=0, max_size=30, unique_by=lambda t: t[0],
    ),
    st.integers(0, 1_000_000),
)
def test_top_share_floor_property(spark, rows, share_ppm):
    """Each group keeps exactly floor(share * n_g / 1e6) rows, and they
    are the lexicographically first under (val desc, key asc)."""
    from ghcrawler_datalake_etl_spark.operators.sampling import top_share_per_group

    df = spark.createDataFrame(rows, "doc_id long, grp string, val long") if rows \
        else spark.createDataFrame([], "doc_id long, grp string, val long")
    got = sorted(
        (r.grp, r.doc_id)
        for r in top_share_per_group(df, "doc_id", "grp", "val", share_ppm).collect()
    )
    want = []
    for g in {r[1] for r in rows}:
        members = sorted(
            ((v, k) for k, gg, v in rows if gg == g),
            key=lambda t: (-t[0], t[1]),
        )
        keep = (share_ppm * len(members)) // 1_000_000
        want += [(g, k) for _, k in members[:keep]]
    assert got == sorted(want)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1_000),
            st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        ),
        min_size=0, max_size=25, unique_by=lambda t: t[0],
    ),
    st.integers(1, 4),
    st.integers(1, 5),
)
@pytest.mark.slow
def test_knn_graph_equals_bruteforce_property(spark, rows, num_blocks, k):
    """For ANY corpus (duplicates, ties, zero vectors), the blocked
    local-top-k merge equals brute-force cosine_topk with the corpus as
    its own query set."""
    from ghcrawler_datalake_etl_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    ) if rows else spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = sorted(
        map(tuple, S.knn_graph(df, "vec_id", "embedding", k=k,
                               num_blocks=num_blocks).collect())
    )
    want = sorted(
        map(tuple, S.cosine_topk(df, df, "vec_id", "embedding", k=k).collect())
    )
    assert got == want


def _bpe_reference(word_freq: dict, num_merges: int):
    """Pure-Python Sennrich BPE trainer: symbols per word, merge the
    most frequent adjacent pair (count desc, pair asc), all
    non-overlapping occurrences left-to-right, for num_merges rounds."""
    vocab = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            i = 0
            while i < len(syms) - 1:
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
                i += 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        merges.append((a, b, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    st.integers(1, 5),
)
@pytest.mark.slow
def test_bpe_trainer_matches_python_reference(spark, words, num_merges):
    """BOTH trainer strategies must reproduce the classic in-memory
    Sennrich algorithm exactly: same merges in the same order with the
    same counts, same final segmentations. The tiny 'ab' alphabet
    maximizes overlapping-pair and repeated-merge collisions (aa, ab,
    aab, abab...) where non-overlapping left-to-right semantics, the
    tiebreak, and the driver strategy's incremental pair-count
    maintenance actually bite."""
    text = " ".join(words)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    freq = {}
    for w in words:
        freq[w] = freq.get(w, 0) + 1
    ref_merges, ref_vocab = _bpe_reference(freq, num_merges)
    for strategy in ("driver", "distributed"):
        merges, vocab = TX.bpe_train_merges(
            df, "text", num_merges=num_merges, strategy=strategy
        )
        assert merges == ref_merges, (strategy, merges, ref_merges)
        got = {
            r["w"]: r["repr"].strip().split("  ") for r in vocab.collect()
        }
        assert got == {w: s for w, s in ref_vocab.items()}, (
            strategy, got, ref_vocab,
        )


def test_bpe_trainer_checkpoint_boundary_matches_reference(spark):
    """A >16-round distributed training run crosses the every-16-rounds
    lineage checkpoint; the flattening must not perturb the merges. The
    driver strategy must agree on the same 20-merge run."""
    df = spark.createDataFrame(
        [(0, "abcdefgh ijklmnop qrstuvwx yzabcdef ghijklmn opqrstuv")],
        "doc_id long, text string",
    )
    merges, vocab = TX.bpe_train_merges(
        df, "text", num_merges=20, strategy="distributed"
    )
    assert len(merges) == 20
    got = {r["w"]: r["repr"].strip().split("  ") for r in vocab.collect()}
    ref_m, ref_v = _bpe_reference({w: 1 for w in got}, 20)
    assert list(merges) == ref_m
    assert got == ref_v
    drv_m, drv_vocab = TX.bpe_train_merges(
        df, "text", num_merges=20, strategy="driver"
    )
    drv = {r["w"]: r["repr"].strip().split("  ") for r in drv_vocab.collect()}
    assert drv_m == ref_m
    assert drv == ref_v


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.floats(
            allow_nan=False,
            allow_infinity=False,
            width=64,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_sql_literal_vectors_are_bit_identical_to_lit(spark, xs):
    """functions.core.vector_literal / matrix_literal build array
    literals as ONE parsed SQL string (the py4j-cost fix); the parsed
    doubles must be bit-identical to F.lit's element conversion for any
    finite double, including -0.0, subnormals, and extreme exponents -
    repr() round-trip + correctly-rounded CAST is the contract."""
    import math
    import struct as _struct

    from ghcrawler_datalake_etl_spark.functions.core import (
        matrix_literal,
        vector_literal,
    )

    row = spark.range(1).select(
        F.lit(xs).alias("a"),
        vector_literal(xs).alias("b"),
        matrix_literal([xs, xs]).alias("m"),
    ).first()

    def bits(v):
        return _struct.pack("<d", v)

    assert [bits(x) for x in row["a"]] == [bits(x) for x in row["b"]]
    for r in row["m"]:
        assert [bits(x) for x in r] == [bits(x) for x in row["a"]]


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_categories=("Cs",)
                ),
                max_size=12,
            ),
            st.floats(0, 1000, allow_nan=False),
        ),
        min_size=0,
        max_size=30,
    ),
    st.integers(1, 6),
)
@pytest.mark.slow
def test_pack_shards_string_keys_equal_single_window_form(
    spark, rows, num_bins
):
    """String-keyed packs ride the monotone byte-prefix proxy; for ANY
    keys (empty strings, shared prefixes, multi-byte UTF-8) the result
    must equal the single global window ordered by the key itself -
    the proxy only places bin boundaries, never reorders."""
    from pyspark.sql import Window

    from ghcrawler_datalake_etl_spark.operators.sampling import pack_shards

    seen, uniq = set(), []
    for k, w in rows:
        if k not in seen:
            seen.add(k)
            uniq.append((k, w))
    df = spark.createDataFrame(uniq, "k string, wt double") if uniq else (
        spark.createDataFrame([], "k string, wt double")
    )
    got = sorted(
        map(
            tuple,
            pack_shards(df, "k", "wt", 100, num_bins=num_bins).collect(),
        )
    )
    ref = sorted(
        map(
            tuple,
            df.withColumn(
                "shard_id",
                F.floor(
                    F.coalesce(
                        F.sum(F.coalesce(F.col("wt"), F.lit(0.0))).over(
                            Window.orderBy("k").rowsBetween(
                                Window.unboundedPreceding, -1
                            )
                        ),
                        F.lit(0.0),
                    )
                    / 100.0
                ).cast("long"),
            ).collect(),
        )
    )
    assert got == ref


def test_pack_shards_binary_keys_equal_single_window_form(spark):
    """Binary-keyed packs (e.g. hash-digest keys) ride the same
    byte-prefix proxy as strings (ADVICE r4: the round-4 proxy rewrite
    had silently dropped binary support the old repartitionByRange
    fallback carried)."""
    import hashlib

    from pyspark.sql import Window

    from ghcrawler_datalake_etl_spark.operators.sampling import pack_shards

    rows = [
        (hashlib.sha256(str(i).encode()).digest(), float(i % 9) + 1)
        for i in range(60)
    ] + [(b"", 3.0), (b"\x00", 1.0), (b"\xff" * 20, 2.0)]
    df = spark.createDataFrame(rows, "k binary, wt double")
    got = sorted(
        (bytes(r["k"]), r["wt"], r["shard_id"])
        for r in pack_shards(df, "k", "wt", 50, num_bins=4).collect()
    )
    ref = sorted(
        (bytes(r["k"]), r["wt"], r["shard_id"])
        for r in df.withColumn(
            "shard_id",
            F.floor(
                F.coalesce(
                    F.sum("wt").over(
                        Window.orderBy("k").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0.0),
                )
                / 50.0
            ).cast("long"),
        ).collect()
    )
    assert got == ref


def test_vector_literal_coerces_numpy_scalars(spark):
    """ADVICE r4: numpy>=2.0 scalars repr as np.float64(x) - the
    literal builder must coerce through float() like matrix_literal."""
    import numpy as np

    from ghcrawler_datalake_etl_spark.functions.core import vector_literal

    vals = np.array([1.5, -0.0, 3.25e-300])
    got = spark.range(1).select(
        vector_literal(list(vals)).alias("v")
    ).head()["v"]
    assert got == [1.5, -0.0, 3.25e-300]
    import math

    assert math.copysign(1.0, got[1]) == -1.0


# -- sketch hash portability (round 5) --------------------------------

sketch_values = st.lists(
    st.one_of(
        st.text(min_size=0, max_size=12),        # arbitrary unicode
        st.integers(-2**62, 2**62).map(str),     # numeric-looking
        st.sampled_from(["", "0", "\x1f", "ÿ", "中文", "a b"]),
    ),
    min_size=1,
    max_size=20,
    unique=True,
)


@settings(**SETTINGS)
@given(sketch_values)
def test_sketch_hashes_match_pure_python(spark, values):
    """The md5-derived sketch hashes - HLL bucket/rho, CMS/Bloom
    positions, KMV 52-bit - computed by Spark's string ops equal the
    pure-Python bit arithmetic for ARBITRARY unicode values. This is
    the portability contract every DuckDB oracle replays; a divergence
    on any code point would break every sketch query identically."""
    import hashlib

    from ghcrawler_datalake_etl_spark.operators import sketches as SK

    df = spark.createDataFrame([(v,) for v in values], ["v"])
    bucket, rho = SK.hll_bucket_rho(F.col("v"))
    got = {
        r["v"]: (r["b"], r["r"], r["kmv"], r["cms"])
        for r in df.select(
            "v",
            bucket.alias("b"),
            rho.alias("r"),
            F.conv(
                F.substring(F.md5(F.col("v")), 1, SK.KMV_HASH_HEX), 16, 10
            ).cast("long").alias("kmv"),
            SK._cms_bucket(F.col("v"), 1, SK.CMS_WIDTH).alias("cms"),
        ).collect()
    }
    bits = 4 * SK.HLL_TAIL_HEX
    for v in values:
        h = hashlib.md5(v.encode("utf-8")).hexdigest()
        b = int(h[:2], 16)
        tail = int(h[2 : 2 + SK.HLL_TAIL_HEX], 16)
        rho_py = bits + 1 if tail == 0 else bits - tail.bit_length() + 1
        kmv_py = int(h[: SK.KMV_HASH_HEX], 16)
        cms_py = (
            int(
                hashlib.md5(("1\x1f" + v).encode("utf-8")).hexdigest()[:15],
                16,
            )
            % SK.CMS_WIDTH
        )
        assert got[v] == (b, rho_py, kmv_py, cms_py), v


# ---------------------------------------------------------------------
# deletion-neighborhood signature completeness (round 5)
# ---------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    """Textbook Levenshtein DP (what both engines implement)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _variants(s: str) -> set[str]:
    """Identity + every single-character deletion - the signature set
    edit_distance_join emits per string (pre-md5)."""
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


@settings(max_examples=400, deadline=None)
@given(
    st.text(alphabet="ab", max_size=6),
    st.text(alphabet="ab", max_size=6),
)
def test_deletion_neighborhood_is_complete_and_2_bounded(a, b):
    """The invariant the join rests on: lev(a,b) <= 1 IMPLIES a shared
    variant (no false negatives - completeness), and a shared variant
    IMPLIES lev(a,b) <= 2 (so the exact verify only ever prunes, never
    rescues). The tiny 'ab' alphabet maximizes collisions and repeated
    characters (the palindromic-deletion dedup case)."""
    shared = bool(_variants(a) & _variants(b))
    if _lev(a, b) <= 1:
        assert shared, (a, b)
    if shared:
        assert _lev(a, b) <= 2, (a, b)


def _variants2(s: str) -> set[str]:
    """The <= 2-deletion neighborhood (round-6 max_dist=2 arm): one
    more delete-or-keep round over the <= 1-deletion set."""
    out = set()
    for v in _variants(s):
        out |= _variants(v)
    return out


@settings(max_examples=400, deadline=None)
@given(
    st.text(alphabet="ab", max_size=6),
    st.text(alphabet="ab", max_size=6),
)
def test_deletion_neighborhood_d2_is_complete_and_4_bounded(a, b):
    """FastSS at radius 2: lev(a,b) <= 2 IMPLIES a shared <=2-deletion
    variant (completeness), and a shared variant IMPLIES lev(a,b) <= 4
    (the exact verify only prunes)."""
    shared = bool(_variants2(a) & _variants2(b))
    if _lev(a, b) <= 2:
        assert shared, (a, b)
    if shared:
        assert _lev(a, b) <= 4, (a, b)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                       # key (ties likely)
            st.one_of(st.none(),
                      st.integers(-8, 8).map(lambda i: i / 4.0)),
            st.one_of(st.none(), st.integers(0, 5)),  # distinct member
        ),
        min_size=0,
        max_size=20,
    ),
    st.integers(2, 4),
)
@pytest.mark.slow
def test_stats_state_split_invariant(spark, rows, n_parts):
    """Round-9 mergeable state: splitting the rows into ANY number of
    per-day parts and folding the per-part states equals building the
    state from all rows at once - exactly, including NULL values/
    members (quarter-integer values keep float sums exact under every
    association, so even sum_v compares bit-for-bit here)."""
    from ghcrawler_datalake_etl_spark.operators import sketches as SK

    df = spark.createDataFrame(
        [(k, v, m) for k, v, m in rows],
        "k long, value double, member long",
    )
    day = F.pmod(F.xxhash64("k", "value", "member"), F.lit(n_parts))
    parts = [
        SK.stats_state(df.filter(day == i), ["k"], "value", "member")
        for i in range(n_parts)
    ]
    states = parts[0]
    for p in parts[1:]:
        states = states.unionByName(p)
    merged = SK.stats_merge(states, ["k"])
    direct = SK.stats_state(df, ["k"], "value", "member")

    def snap(frame):
        return {
            r.k: (r.n, r.sum_v, r.min_v, r.max_v, sorted(r.regs.items()))
            for r in frame.collect()
        }

    assert snap(merged) == snap(direct)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta".split()),
                 min_size=3, max_size=6),
        min_size=1, max_size=8,
    ),
    st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta".split()),
                 min_size=3, max_size=6),
        min_size=1, max_size=4,
    ),
)
@pytest.mark.slow
def test_incremental_dedup_equals_cross_pairs_of_union(
    spark, corpus_texts, batch_texts
):
    """The persisted-index screen is EXACTLY the cross-split slice of
    the within-union LSH operator: same signatures, same band keys, so
    the candidate sets coincide and the verified matches must too
    (smallest corpus id per matched batch doc). Tiny 4-word-vocab docs
    make accidental near-dups common - the adversarial case for any
    asymmetry between the two code paths."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(corpus_texts)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, " ".join(t)) for i, t in enumerate(batch_texts)],
        "doc_id long, text string",
    )
    index = D.lsh_band_index(corpus, "doc_id", "text",
                             n=3, num_hashes=16, bands=4)
    got = {r.batch_id: (r.dup_of, r.jaccard)
           for r in D.incremental_lsh_dedup(
               batch, index, corpus, "doc_id", "text",
               n=3, num_hashes=16, bands=4, threshold=0.5).collect()}
    pairs = D.minhash_lsh_pairs(
        corpus.unionByName(batch), "doc_id", "text",
        n=3, num_hashes=16, bands=4, threshold=0.5,
    ).collect()
    expected: dict[int, tuple[int, float]] = {}
    for r in pairs:  # id_a < id_b, so cross pairs are (corpus, batch)
        if r.id_a < 100 <= r.id_b:
            cur = expected.get(r.id_b)
            if cur is None or r.id_a < cur[0]:
                expected[r.id_b] = (r.id_a, r.jaccard)
    assert got == expected


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta".split()),
                 min_size=0, max_size=8),
        min_size=0, max_size=10,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_jaccard_equals_inverted_index(spark, token_lists, t):
    """Round-9: the prefix-filtered join and the full inverted-index
    join implement the SAME spec - exact Jaccard >= t pairs - so on any
    corpus (dups, subsets, empties included) they must return the same
    pairs with the same quantized jaccard. Candidate strategies differ;
    the answer must not."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    a = {(r.id_a, r.id_b): r.jaccard for r in
         D.prefix_jaccard_pairs(
             df, "doc_id", D.shingles(F.col("text"), 2), t).collect()}
    b = {(r.id_a, r.id_b): r.jaccard for r in
         D.ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                               threshold=t).collect()}
    assert a == b


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)),
             min_size=1, max_size=12),
    st.lists(st.tuples(st.integers(0, 19), st.integers(0, 19)),
             min_size=0, max_size=10),
)
@pytest.mark.slow
def test_incremental_components_equals_full_rerun(spark, base, batch):
    """Round-10: folding a batch of edges into a standing cluster table
    (incremental_components) must be row-identical to re-running
    connected_components over the edge union - on arbitrary graphs:
    multi-way merges, chains, self-edges, duplicate edges, batch edges
    inside one standing cluster, and brand-new nodes (ids 15-19 never
    appear in the base split)."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    base_df = spark.createDataFrame(base, "id_a long, id_b long")
    batch_df = (
        spark.createDataFrame(batch, "id_a long, id_b long")
        if batch
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    standing = D.connected_components(base_df)
    got = {
        r.node: r.cluster_id
        for r in D.incremental_components(standing, batch_df).collect()
    }
    full = {
        r.node: r.cluster_id
        for r in D.connected_components(
            base_df.unionByName(batch_df)
        ).collect()
    }
    assert got == full


def _brute_remove_substrings(docs, k):
    """Pure-Python reference for remove_duplicate_substrings: dict-based
    first occurrence of every k-token window in (doc_id, pos) order,
    then per-token coverage."""
    out = {}
    seen: set = set()
    dup_starts: dict = {}
    for i, toks in sorted(docs.items()):
        dup_starts[i] = set()
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p : p + k])
            if g in seen:
                dup_starts[i].add(p)
            else:
                seen.add(g)
    for i, toks in sorted(docs.items()):
        rm = [
            any(s in dup_starts[i] for s in range(max(0, j - k + 1), j + 1))
            for j in range(len(toks))
        ]
        out[i] = (
            len(toks),
            sum(rm),
            " ".join(t for t, r in zip(toks, rm) if not r),
        )
    return out


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd".split()),
                 min_size=0, max_size=12),
        min_size=1, max_size=8,
    ),
    st.integers(2, 4),
)
def test_remove_duplicate_substrings_matches_bruteforce(
    spark, token_lists, k
):
    """Round-10 (VERDICT r9 #4): the window-hash substring remover is
    EXACT - on arbitrary corpora (4-word vocab makes shared and
    self-repeated spans common) it must equal the dict-based
    first-occurrence reimplementation token for token."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    docs = {i: t for i, t in enumerate(token_lists)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in D.remove_duplicate_substrings(df, min_tokens=k).collect()
    }
    assert got == _brute_remove_substrings(docs, k)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd".split()),
                 min_size=0, max_size=10),
        min_size=1, max_size=8,
    ),
    st.integers(2, 3),
    st.integers(0, 8),
)
@pytest.mark.slow
def test_incremental_substring_removal_matches_global(
    spark, token_lists, k, cut
):
    """Round-11 (VERDICT r10 #5): for ANY id-threshold split
    (corpus = ids < cut, batch = ids >= cut), the corpus's own
    ExactSubstr removal unioned with the batch's screen against the
    corpus's window-digest store must equal remove_duplicate_substrings
    over the whole collection - the store IS a sufficient statistic
    for removal at batch cost."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    docs = {i: t for i, t in enumerate(token_lists)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()],
        "doc_id long, text string",
    )
    corpus = df.filter(F.col("doc_id") < cut)
    batch = df.filter(F.col("doc_id") >= cut)
    idx = D.substring_window_index(corpus, min_tokens=k)
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in D.remove_duplicate_substrings(corpus, min_tokens=k)
        .unionByName(
            D.remove_duplicate_substrings_incremental(
                batch, idx, min_tokens=k
            )
        )
        .collect()
    }
    assert got == _brute_remove_substrings(docs, k)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from(["px", "qy", "rz", ""]),
                 min_size=1, max_size=6),
        min_size=1, max_size=8,
    ),
)
def test_drop_duplicate_paragraphs_matches_bruteforce(spark, para_lists):
    """Round-10 (VERDICT r9 #5): corpus-wide paragraph dedup keeps
    exactly the first occurrence of every non-blank paragraph in
    (doc_id, index) order; blanks always pass through; reassembly
    preserves order and the separator."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    docs = {i: "\n".join(ps) for i, ps in enumerate(para_lists)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    seen: set = set()
    exp = {}
    for i in sorted(docs):
        ps = docs[i].split("\n")
        keep, dropped = [], 0
        for p in ps:
            if p.strip() == "":
                keep.append(p)
            elif p in seen:
                dropped += 1
            else:
                seen.add(p)
                keep.append(p)
        exp[i] = (len(ps), dropped, "\n".join(keep))
    got = {
        r.doc_id: (r.n_paras, r.n_dropped, r.text_clean)
        for r in D.drop_duplicate_paragraphs(df).collect()
    }
    assert got == exp


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from(["px", "qy", "rz", ""]),
                 min_size=1, max_size=6),
        min_size=1, max_size=8,
    ),
    st.integers(0, 8),
)
def test_incremental_paragraphs_union_equals_global(
    spark, para_lists, cut
):
    """Round-10: for ANY id-threshold split (corpus ids strictly below
    the cut), the corpus's own paragraph dedup unioned with the
    batch's screen against the corpus paragraph-hash index must equal
    the GLOBAL drop_duplicate_paragraphs over all documents - incl.
    all-corpus and all-batch splits, blanks, and within-batch
    repeats."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    docs = {i: "\n".join(ps) for i, ps in enumerate(para_lists)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    corpus = df.filter(F.col("doc_id") < cut)
    batch = df.filter(F.col("doc_id") >= cut)
    index = D.paragraph_hash_index(corpus)
    got_df = D.drop_duplicate_paragraphs(corpus).unionByName(
        D.drop_duplicate_paragraphs_incremental(batch, index)
    )
    got = {
        r.doc_id: (r.n_paras, r.n_dropped, r.text_clean)
        for r in got_df.collect()
    }
    want = {
        r.doc_id: (r.n_paras, r.n_dropped, r.text_clean)
        for r in D.drop_duplicate_paragraphs(df).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(  # initial table: (key, group, value-or-null)
        st.tuples(st.integers(0, 15), st.integers(0, 2),
                  st.one_of(st.none(), st.integers(-5, 5))),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    st.lists(  # days of ops: (key, group, value-or-null, is_delete)
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 2),
                      st.one_of(st.none(), st.integers(-5, 5)),
                      st.booleans()),
            min_size=0, max_size=6, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=3,
    ),
)
@pytest.mark.slow
def test_changefeed_fold_matches_recompute_property(spark, init, days):
    """Round-12 IVM property: for ANY upstream evolution (inserts,
    updates incl. group moves, deletes of existing or missing keys,
    no-op updates, quiet days, groups vanishing and reappearing, NULL
    values through insert and retract), a downstream stats table
    maintained PURELY by folding per-version preimage changefeeds must
    equal the from-scratch aggregate of the final upstream state."""
    import tempfile

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    SCHEMA = "k long, g long, cents long"
    cat = ParquetCatalog(
        spark, tempfile.mkdtemp(prefix="ivm_prop_"), retain=2
    )
    s0 = spark.createDataFrame(init, SCHEMA)
    cat.merge_upsert(s0, "T", ["k"], num_buckets=4)
    ivm.fold_changes_into_stats(
        cat, s0.select(F.lit("I").alias("op"), "k", "g", "cents"),
        "S", ["g"], "cents", num_buckets=2,
    )
    for v, ops in enumerate(days):
        ups = [(k, g, c) for k, g, c, d in ops if not d]
        dels = [(k,) for k, g, c, d in ops if d]
        cat.merge_upsert(
            spark.createDataFrame(ups, SCHEMA), "T", ["k"],
            num_buckets=4,
            delete_keys=spark.createDataFrame(dels, "k long"),
        )
        ivm.fold_changes_into_stats(
            cat, ivm.table_changes(cat, "T", v, v + 1, with_preimages=True),
            "S", ["g"], "cents", num_buckets=2,
        )
    got = {
        tuple(r)
        for r in cat.read("S").select("g", "n", "n_vals", "sum_v").collect()
    }
    want = {
        tuple(r)
        for r in cat.read("T")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.count("cents").alias("n_vals"),
            F.sum("cents").alias("sum_v"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    st.lists(  # initial A: (k, fk, val)
        st.tuples(st.integers(0, 12), st.integers(0, 4), st.integers(0, 9)),
        min_size=0, max_size=6, unique_by=lambda t: t[0],
    ),
    st.lists(  # initial B: (fk, bval)
        st.tuples(st.integers(0, 4), st.integers(0, 9)),
        min_size=0, max_size=4, unique_by=lambda t: t[0],
    ),
    st.lists(  # days: (a_ops, b_ops); op = (key, payload..., is_delete)
        st.tuples(
            st.lists(
                st.tuples(st.integers(0, 12), st.integers(0, 4),
                          st.integers(0, 9), st.booleans()),
                min_size=0, max_size=5, unique_by=lambda t: t[0],
            ),
            st.lists(
                st.tuples(st.integers(0, 4), st.integers(0, 9),
                          st.booleans()),
                min_size=0, max_size=4, unique_by=lambda t: t[0],
            ),
        ),
        min_size=1, max_size=3,
    ),
)
@pytest.mark.slow
def test_join_ivm_fold_matches_recompute_property(
    spark, init_a, init_b, days
):
    """Round-13 join-IVM property: for ANY two-upstream evolution
    (inserts, FK-moving updates, deletes of existing or missing keys,
    B keys vanishing and reappearing, quiet sides, same-day A-insert
    against a dying B key), the standing join maintained purely from
    preimage changefeeds must equal the from-scratch inner join of the
    final upstream states."""
    import tempfile

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    A_SCHEMA = "k long, fk long, av long"
    B_SCHEMA = "fk long, bv long"
    cat = ParquetCatalog(
        spark, tempfile.mkdtemp(prefix="jivm_prop_"), retain=2
    )
    a0 = spark.createDataFrame(init_a, A_SCHEMA)
    b0 = spark.createDataFrame(init_b, B_SCHEMA)
    cat.merge_upsert(a0, "A", ["k"], num_buckets=4)
    cat.merge_upsert(b0, "B", ["fk"], num_buckets=4)
    ivm.fold_changes_into_join(
        cat, a0.select(F.lit("I").alias("op"), "*"),
        b0.select(F.lit("I").alias("op"), "*"),
        "J", "AIdx", "B", ["k"], ["fk"], num_buckets=4,
    )
    for v, (a_ops, b_ops) in enumerate(days):
        cat.merge_upsert(
            spark.createDataFrame(
                [(k, fk, av) for k, fk, av, d in a_ops if not d], A_SCHEMA
            ),
            "A", ["k"], num_buckets=4,
            delete_keys=spark.createDataFrame(
                [(k,) for k, fk, av, d in a_ops if d], "k long"
            ),
        )
        cat.merge_upsert(
            spark.createDataFrame(
                [(fk, bv) for fk, bv, d in b_ops if not d], B_SCHEMA
            ),
            "B", ["fk"], num_buckets=4,
            delete_keys=spark.createDataFrame(
                [(fk,) for fk, bv, d in b_ops if d], "fk long"
            ),
        )
        ivm.fold_changes_into_join(
            cat, ivm.table_changes(cat, "A", v, v + 1, with_preimages=True),
            ivm.table_changes(cat, "B", v, v + 1, with_preimages=True),
            "J", "AIdx", "B", ["k"], ["fk"], num_buckets=4,
        )
    got = {tuple(r) for r in cat.read("J").select("k", "fk", "av", "bv").collect()}
    want = {
        tuple(r)
        for r in cat.read("A")
        .join(cat.read("B"), "fk")
        .select("k", "fk", "av", "bv")
        .collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    st.lists(  # initial table: (key, group, value-or-null)
        st.tuples(st.integers(0, 15), st.integers(0, 2),
                  st.one_of(st.none(), st.integers(-5, 5))),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    st.lists(  # days of ops: (key, group, value-or-null, is_delete)
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 2),
                      st.one_of(st.none(), st.integers(-5, 5)),
                      st.booleans()),
            min_size=0, max_size=6, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=3,
    ),
)
@pytest.mark.slow
def test_extrema_fold_matches_recompute_property(spark, init, days):
    """Round-13 extrema-IVM property: for ANY upstream evolution
    (inserts, group-moving updates, deletes incl. of extrema and of
    missing keys, ties at the extremum, NULL values, groups emptying
    and reappearing), a standing (n, n_vals, min_v, max_v) table
    maintained purely by folding preimage changefeeds - with
    touched-group re-derivation through the group-bucketed upstream -
    must equal the from-scratch aggregate of the final state. The
    upstream's delete_keys preimages (k, old group) come from the
    tracked prior state, the real pipeline's recipe."""
    import tempfile

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    SCHEMA = "k long, g long, v long"
    cat = ParquetCatalog(
        spark, tempfile.mkdtemp(prefix="mmx_prop_"), retain=2
    )
    state = {k: (g, v) for k, g, v in init}
    s0 = spark.createDataFrame(init, SCHEMA)
    cat.merge_upsert(s0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_extrema(
        cat, s0.select(F.lit("I").alias("op"), "k", "g", "v"),
        "U", "X", ["g"], "v", num_buckets=2,
    )
    for v_i, ops in enumerate(days):
        ups = [(k, g, val) for k, g, val, d in ops if not d]
        touched = [k for k, g, val, d in ops]
        # preimages: every touched key that EXISTS ships (k, old g) so
        # group-moving updates and deletes rewrite their old bucket
        pre = [(k, state[k][0]) for k in touched if k in state]
        cat.merge_upsert(
            spark.createDataFrame(ups, SCHEMA), "U", ["k"],
            num_buckets=4, bucket_cols=["g"],
            delete_keys=spark.createDataFrame(pre, "k long, g long"),
        )
        for k, g, val, d in ops:
            if d:
                state.pop(k, None)
            else:
                state[k] = (g, val)
        ivm.fold_changes_into_extrema(
            cat, ivm.table_changes(cat, "U", v_i, v_i + 1, with_preimages=True),
            "U", "X", ["g"], "v", num_buckets=2,
        )
    got = {
        tuple(r)
        for r in cat.read("X")
        .select("g", "n", "n_vals", "min_v", "max_v")
        .collect()
    }
    want = {
        tuple(r)
        for r in cat.read("U")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.count("v").alias("n_vals"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)),
        min_size=1, max_size=10,
    ),
    st.integers(0, 10),
)
@pytest.mark.slow
def test_incremental_semantic_union_equals_global(spark, vec_rows, cut):
    """Round-12: for ANY id-threshold split under a FIXED standing
    quantizer, the corpus's own SemDeDup unioned with the batch's
    screen against the standing postings must equal the GLOBAL
    semantic_dedup over all vectors - incl. all-corpus and all-batch
    splits, duplicate vectors straddling the cut, and zero-norm
    vectors (NaN cosine never drops, both paths)."""
    from ghcrawler_datalake_etl_spark.operators import dedup as D

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(vec_rows)],
        "vec_id long, embedding array<double>",
    )
    corpus = df.filter(F.col("vec_id") < cut)
    batch = df.filter(F.col("vec_id") >= cut)
    postings = D.semantic_postings(corpus, "vec_id", "embedding", cents)
    got_df = D.semantic_dedup(
        corpus, "vec_id", "embedding", cents, threshold=0.5
    ).unionByName(
        D.semantic_dedup_incremental(
            batch, postings, "vec_id", "embedding", cents, threshold=0.5
        )
    )
    got = {r.vec_id: (r.cluster, r.keep) for r in got_df.collect()}
    want = {
        r.vec_id: (r.cluster, r.keep)
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", cents, threshold=0.5
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["sa", "sb", None]),  # source (few -> groups)
            st.lists(st.sampled_from(["menu", "body", "foot", ""]),
                     min_size=1, max_size=5),     # lines
        ),
        min_size=1, max_size=10,
    ),
    st.integers(0, 10),
)
@pytest.mark.slow
def test_incremental_boilerplate_equals_global_batch_slice(
    spark, docs, cut
):
    """Round-11: for ANY id-threshold split, folding the corpus's
    standing (src, dig, line_df)/(src, n_docs) stats with the batch's
    own and screening the batch against the UNION thresholds equals
    the GLOBAL remove_boilerplate_lines restricted to batch documents
    - incl. all-corpus/all-batch splits, NULL sources, blanks, and
    lines whose threshold crossing only happens once the batch
    arrives."""
    df = spark.createDataFrame(
        [(i, s, "\n".join(ls)) for i, (s, ls) in enumerate(docs)],
        "doc_id long, source string, text string",
    )
    corpus = df.filter(F.col("doc_id") < cut)
    batch = df.filter(F.col("doc_id") >= cut)
    got = {
        r.doc_id: (r.n_lines, r.n_dropped, r.text_clean)
        for r in TX.remove_boilerplate_lines_incremental(
            batch,
            TX.boilerplate_line_stats(corpus),
            TX.source_doc_counts(corpus),
            min_docs=2, min_frac=0.5,
        ).collect()
    }
    want = {
        r.doc_id: (r.n_lines, r.n_dropped, r.text_clean)
        for r in TX.remove_boilerplate_lines(
            df, min_docs=2, min_frac=0.5
        ).collect()
        if r.doc_id >= cut
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.lists(st.integers(-3, 3), min_size=3, max_size=3),
            st.integers(0, 100),  # rel * 100
        ),
        min_size=1, max_size=8,
    ),
    st.sampled_from([0.5, 0.7]),
)
def test_mmr_rerank_matches_bruteforce(spark, cands, lam):
    """Round-11: the distributed greedy MMR equals a pure-Python greedy
    reimplementation running the IDENTICAL arithmetic (left-fold dot,
    left-fold norm, floor-quantize-6, lam*rel - (1-lam)*maxsim,
    score-desc-then-id argmax) - over arbitrary small candidate sets
    incl. zero vectors (excluded), duplicate vectors (cosine 1), and
    ties broken by id."""
    import math

    from ghcrawler_datalake_etl_spark.operators.similarity import (
        mmr_rerank,
    )

    def q6(x):
        return math.floor(x * 1_000_000) / 1_000_000

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def nrm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    rows = [
        (i, [float(x) for x in v], r / 100.0)
        for i, (v, r) in enumerate(cands)
    ]
    k = 4
    got = [
        (r.id, r.mmr_rank, r.mmr_score)
        for r in sorted(
            mmr_rerank(
                spark.createDataFrame(
                    rows, "id long, vec array<double>, rel double"
                ),
                "id", "vec", "rel", k=k, lam=lam,
            ).collect(),
            key=lambda r: r.mmr_rank,
        )
    ]
    # brute force, same arithmetic
    pool = [(i, v, rel) for i, v, rel in rows if nrm(v) > 0]
    sel, want = [], []
    for rank in range(1, k + 1):
        best = None
        for i, v, rel in pool:
            if any(i == j for j, _ in sel):
                continue
            if not sel:
                score = q6(rel)
            else:
                maxsim = max(
                    q6(dot(v, sv) / (nrm(v) * nv)) for _, (sv, nv) in [
                        (j, s) for j, s in sel
                    ]
                )
                score = q6(lam * rel - (1.0 - lam) * maxsim)
            if best is None or (score, -i) > (best[1], -best[0]):
                best = (i, score, v)
        if best is None:
            break
        sel.append((best[0], (best[2], nrm(best[2]))))
        want.append((best[0], rank, best[1]))
    assert got == want


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    st.lists(  # initial table: (key, group, value-or-null)
        st.tuples(st.integers(0, 15), st.integers(0, 2),
                  st.one_of(st.none(), st.integers(0, 4))),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    st.lists(  # days of ops: (key, group, value-or-null, is_delete)
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 2),
                      st.one_of(st.none(), st.integers(0, 4)),
                      st.booleans()),
            min_size=0, max_size=6, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=3,
    ),
)
@pytest.mark.slow
def test_hll_fold_matches_recompute_property(spark, init, days):
    """Round-14 COUNT DISTINCT-IVM property: for ANY upstream evolution
    (inserts, group-moving updates, deletes incl. of the last copy of a
    value and of missing keys, duplicate values within a group, NULL
    values, groups emptying and reappearing), a standing (n, n_vals,
    regs) HLL table maintained purely by folding preimage changefeeds -
    with tied-register re-derivation through the group-bucketed
    upstream - must carry registers BIT-IDENTICAL to hll_registers over
    the final upstream state (and exact retractable counts). The small
    value domain (0..4) forces heavy duplicate-value collisions, the
    case where a retraction must NOT drop a register another copy
    still attains."""
    import tempfile

    from ghcrawler_datalake_etl_spark.operators.sketches import (
        hll_registers,
    )
    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    SCHEMA = "k long, g long, v long"
    cat = ParquetCatalog(
        spark, tempfile.mkdtemp(prefix="hll_prop_"), retain=2
    )
    state = {k: (g, v) for k, g, v in init}
    s0 = spark.createDataFrame(init, SCHEMA)
    cat.merge_upsert(s0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_hll(
        cat, s0.select(F.lit("I").alias("op"), "k", "g", "v"),
        "U", "H", ["g"], "v", num_buckets=2,
    )
    for v_i, ops in enumerate(days):
        ups = [(k, g, val) for k, g, val, d in ops if not d]
        touched = [k for k, g, val, d in ops]
        pre = [(k, state[k][0]) for k in touched if k in state]
        cat.merge_upsert(
            spark.createDataFrame(ups, SCHEMA), "U", ["k"],
            num_buckets=4, bucket_cols=["g"],
            delete_keys=spark.createDataFrame(pre, "k long, g long"),
        )
        for k, g, val, d in ops:
            if d:
                state.pop(k, None)
            else:
                state[k] = (g, val)
        ivm.fold_changes_into_hll(
            cat, ivm.table_changes(cat, "U", v_i, v_i + 1, with_preimages=True),
            "U", "H", ["g"], "v", num_buckets=2,
        )
    got = {
        r["g"]: (r["n"], r["n_vals"], tuple(sorted(r["regs"].items())))
        for r in cat.read("H").collect()
    }
    final = cat.read("U")
    regs = {}
    for r in hll_registers(final, "v", ["g"]).collect():
        regs.setdefault(r["g"], {})[r["bucket"]] = r["m_rho"]
    want = {
        r["g"]: (
            r["n"], r["n_vals"],
            tuple(sorted(regs.get(r["g"], {}).items())),
        )
        for r in final.groupBy("g").agg(
            F.count("*").alias("n"), F.count("v").alias("n_vals")
        ).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    st.lists(  # initial table: (key, group, value-or-null)
        st.tuples(st.integers(0, 15), st.integers(0, 2),
                  st.one_of(st.none(), st.integers(-3, 3))),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    st.lists(  # days of ops: (key, group, value-or-null, is_delete)
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 2),
                      st.one_of(st.none(), st.integers(-3, 3)),
                      st.booleans()),
            min_size=0, max_size=6, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=3,
    ),
)
@pytest.mark.slow
def test_topk_fold_matches_recompute_property(spark, init, days):
    """Round-14 top-k-IVM property: for ANY upstream evolution
    (inserts, group-moving updates, deletes incl. at and below the
    truncation horizon, duplicate values tying the horizon, NULL
    values, groups emptying and reappearing), a standing (n, n_vals,
    topk) table maintained purely by folding preimage changefeeds -
    short arrays subtracted in place, horizon retractions re-derived
    through the group-bucketed upstream - must equal the from-scratch
    per-group top-k of the final state. k=2 against a [-3,3] value
    domain forces truncation AND horizon ties."""
    import tempfile

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    SCHEMA = "k long, g long, v long"
    K = 2
    cat = ParquetCatalog(
        spark, tempfile.mkdtemp(prefix="topk_prop_"), retain=2
    )
    state = {k: (g, v) for k, g, v in init}
    s0 = spark.createDataFrame(init, SCHEMA)
    cat.merge_upsert(s0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_topk(
        cat, s0.select(F.lit("I").alias("op"), "k", "g", "v"),
        "U", "T", ["g"], "v", k=K, num_buckets=2,
    )
    for v_i, ops in enumerate(days):
        ups = [(k, g, val) for k, g, val, d in ops if not d]
        touched = [k for k, g, val, d in ops]
        pre = [(k, state[k][0]) for k in touched if k in state]
        cat.merge_upsert(
            spark.createDataFrame(ups, SCHEMA), "U", ["k"],
            num_buckets=4, bucket_cols=["g"],
            delete_keys=spark.createDataFrame(pre, "k long, g long"),
        )
        for k, g, val, d in ops:
            if d:
                state.pop(k, None)
            else:
                state[k] = (g, val)
        ivm.fold_changes_into_topk(
            cat, ivm.table_changes(cat, "U", v_i, v_i + 1, with_preimages=True),
            "U", "T", ["g"], "v", k=K, num_buckets=2,
        )
    got = {
        (r["g"], r["n"], r["n_vals"], tuple(r["topk"]))
        for r in cat.read("T").collect()
    }
    want = {
        (r["g"], r["n"], r["n_vals"], tuple(r["topk"]))
        for r in cat.read("U")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.count("v").alias("n_vals"),
            F.slice(
                F.sort_array(F.collect_list("v"), asc=False), 1, K
            ).alias("topk"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=4, deadline=None, derandomize=True)
@given(
    st.lists(  # initial table: (key, group, score)
        st.tuples(st.integers(0, 15), st.integers(0, 1),
                  st.integers(-2, 2)),
        min_size=0, max_size=6, unique_by=lambda t: t[0],
    ),
    st.lists(  # days of ops: (key, group, score, is_delete)
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 1),
                      st.integers(-2, 2), st.booleans()),
            min_size=0, max_size=5, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=2,
    ),
)
@pytest.mark.slow
def test_topk_fold_struct_values_property(spark, init, days):
    """Arg-top-k twin of the value-array property: the fold over a
    (score, pk) STRUCT column - lexicographic struct order, pk as the
    tie-break - must equal the from-scratch struct top-k under ANY
    evolution. The [-2,2] score domain forces score ties, so the
    deterministic pk tie-break and the horizon comparison on structs
    are both exercised; the preimage feed carries the exact struct,
    so in-place subtraction must find it."""
    import tempfile

    from ghcrawler_datalake_etl_spark.sources.sinks import ParquetCatalog

    SCHEMA = "k long, g long, s long"
    K = 2

    def structify(df):
        return df.select(
            "k", "g", F.struct("s", "k").alias("v")
        )

    cat = ParquetCatalog(
        spark, tempfile.mkdtemp(prefix="topk_sprop_"), retain=2
    )
    state = {k: (g, s) for k, g, s in init}
    s0 = structify(spark.createDataFrame(init, SCHEMA))
    cat.merge_upsert(s0, "U", ["k"], num_buckets=4, bucket_cols=["g"])
    ivm.fold_changes_into_topk(
        cat, s0.select(F.lit("I").alias("op"), "*"),
        "U", "T", ["g"], "v", k=K, num_buckets=2,
    )
    for v_i, ops in enumerate(days):
        ups = [(k, g, s) for k, g, s, d in ops if not d]
        pre = [(k, state[k][0]) for k, g, s, d in ops if k in state]
        cat.merge_upsert(
            structify(spark.createDataFrame(ups, SCHEMA)), "U", ["k"],
            num_buckets=4, bucket_cols=["g"],
            delete_keys=spark.createDataFrame(pre, "k long, g long"),
        )
        for k, g, s, d in ops:
            if d:
                state.pop(k, None)
            else:
                state[k] = (g, s)
        ivm.fold_changes_into_topk(
            cat, ivm.table_changes(cat, "U", v_i, v_i + 1, with_preimages=True),
            "U", "T", ["g"], "v", k=K, num_buckets=2,
        )
    got = {
        (r["g"], r["n"], tuple((e["s"], e["k"]) for e in r["topk"]))
        for r in cat.read("T").collect()
    }
    want = {
        (r["g"], r["n"], tuple((e["s"], e["k"]) for e in r["topk"]))
        for r in cat.read("U")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.slice(
                F.sort_array(F.collect_list("v"), asc=False), 1, K
            ).alias("topk"),
        )
        .collect()
    }
    assert got == want
