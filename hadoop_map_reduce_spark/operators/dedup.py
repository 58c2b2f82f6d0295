"""Deduplication operators for large-scale corpus curation.

Four families, all shuffle-conscious:

- exact: hash group on the full text (one shuffle; at 100 TB, group on a
  fingerprint/md5 instead of raw text to keep shuffle rows narrow).
- n-gram Jaccard: exact pairwise similarity over shingle sets. The
  oracle-checkable reference semantics; quadratic, so only for modest
  candidate sets — at scale it is the VERIFY stage after LSH blocking.
- MinHash + LSH: the scale path. Signatures via k independent affine
  permutations of 64-bit shingle hashes; banding turns near-dup search
  into an equi-join on (band, band-signature) — no cross join anywhere.
- SimHash: 64-bit fingerprints whose Hamming distance tracks cosine
  similarity of token multisets; chunk-banding gives the candidate join.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_map_reduce_spark.functions.text import ngrams, sanitize, tokenize

# Mersenne prime 2^31-1 for affine minhash permutations: keeps every
# intermediate product < 2^62, safe in int64 under ANSI overflow checking.
_MINHASH_PRIME = (1 << 31) - 1

# Bounded persistence for signature/shingle tables: one named slot per
# use site (see operators.caching for semantics and staleness caveat).
from hadoop_map_reduce_spark.operators.caching import cache_one_slot


def _cache_one_slot(df: DataFrame) -> DataFrame:
    return cache_one_slot(df, "dedup-signatures")


def _cand_hash(s: Column) -> Column:
    """Candidate-stage shingle hash for the prefix-filter family (the
    round-11 8-byte key narrowing). Module-level hook so the
    collision-exactness test can substitute a deliberately LOSSY hash
    and pin that the family stays exact under heavy collisions — the
    bounds in the candidate stage are collision-aware (round 12), so
    correctness must not depend on this being injective."""
    return F.xxhash64(s)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One representative (min id) per distinct text value."""
    return df.groupBy(text_col).agg(F.min(id_col).alias(id_col))


def shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles of the sanitized text.

    NOTE: ``ngrams`` references its token array at many call sites, and
    Catalyst inlines (not CSEs) the subtree — passing the raw
    tokenize(sanitize()) expression here re-runs the regex pipeline per
    n-gram element. Use :func:`with_shingles`, which materializes the
    token array in a projection first, for anything performance-sensitive.
    """
    return F.array_distinct(ngrams(tokenize(sanitize(text_col)), n=n, sep=" "))


def with_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    out_col: str = "_sh",
) -> DataFrame:
    """(id, shingles) with the token array materialized as a bound column
    between projections, so the sanitize/tokenize regex runs once per row
    instead of once per n-gram element.

    The short-doc filter tests ``size(_toks) >= n`` (equivalent to
    non-empty shingles) BETWEEN the projections: filtering on the computed
    shingle column would make Catalyst push a duplicate of the whole
    n-gram expression tree into the predicate (measured 35x slowdown).
    """
    return (
        df.select(
            F.col(id_col), tokenize(sanitize(F.col(text_col))).alias("_toks")
        )
        .filter(F.size("_toks") >= n)
        .select(
            F.col(id_col),
            F.array_distinct(ngrams(F.col("_toks"), n=n, sep=" ")).alias(out_col),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All unordered pairs with shingle-Jaccard >= threshold (exact).

    Inverted-index formulation, not a cross join: explode distinct
    shingles to (shingle, id) postings, self-join on the shingle, and
    count co-occurrences — that count IS |A ∩ B|, and |A ∪ B| =
    |A| + |B| - |A ∩ B| from per-doc sizes. Pairs sharing no shingle
    have Jaccard 0 and can never pass a positive threshold, so results
    are identical to the naive quadratic scan (measured 575 s → seconds
    at sf0.1) while the join cost scales with Σ posting-list² per
    shingle — near-linear when shingles are rare, which n>=3 token
    shingles are. Hot-shingle corpora should still prefer
    :func:`minhash_lsh_pairs` + this as the verify stage.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero admits all pairs)")
    sh = with_shingles(df, n=n, text_col=text_col, id_col=id_col)
    sized = sh.select(
        F.col(id_col), F.col("_sh"), F.size("_sh").alias("_n")
    )
    postings = sized.select(
        F.col(id_col), F.col("_n"), F.explode("_sh").alias("_s")
    )
    a, b = postings.alias("a"), postings.alias("b")
    co = (
        a.join(b, F.col("a._s") == F.col("b._s"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (
        co.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle-Jaccard pairs via prefix filtering (PPJoin family).

    Same answers as :func:`ngram_jaccard_pairs`, different candidate
    cost model. The plain inverted index pays Σ df² over EVERY shingle —
    one boilerplate header shared by millions of docs makes one join key
    quadratic. Prefix filtering fixes exactly that: order each doc's
    shingles by global document frequency (rarest first, shingle value as
    tie-break), and only the first ``|A| - ceil(t·|A|) + 1`` shingles
    emit candidate postings. A pair with J(A,B) >= t must share at least
    ``ceil(t·|A|)`` shingles, which cannot all hide in the suffix, so
    prefix∩prefix ≠ ∅ for every true pair (Chaudhuri/Bayardo bound) —
    candidates are a superset and the exact-Jaccard verify keeps
    precision exact. Hot shingles are, by construction, everyone's
    suffix: they stop being join keys entirely.

    Extra cost vs the plain index: one global df aggregation and one
    per-doc ranking window — both linear in corpus size. That trade is
    the right one at scale; at toy sizes the plain index is marginally
    cheaper.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero admits all pairs)")
    # Round-11 (optimization round, guide §2.3 "narrower types"): the
    # CANDIDATE stage runs on the 64-bit xxhash64 image of each
    # shingle set, not the shingle strings — the df aggregation, the
    # df join, the per-doc ranking sort, and the prefix self-join all
    # key on 8-byte longs instead of ~25-byte strings. The exact verify
    # against the TRUE shingle arrays then removes the (hash-collision
    # or prefix-overlap) false candidates.
    #
    # Round-12 correctness hardening (ADVICE r11 #1): the round-11
    # bounds used the HASHED set size everywhere, which is NOT exact
    # when a within-document collision merges two shingles that are
    # both shared with the partner doc — the hashed Jaccard can then
    # fall BELOW the true value and a true pair could be pruned before
    # the verify. The bounds below are collision-aware and exact for
    # ANY hash function (astronomically unlikely to differ from the
    # hashed-size bounds for xxhash64 at test scale, but the 100-TB
    # design point crosses 2^32 distinct shingles where 64-bit
    # collisions are expected; exactness is test-pinned with a
    # deliberately lossy hash). Notation: per doc, n = |A| (true
    # distinct shingles), nh = |H(A)|, c = n - nh (within-doc merges);
    # for a pair, o = |A∩B| (true overlap), s = |H(A)∩H(B)|. The one
    # fact all three bounds ride on: every merge lost from the
    # intersection image is a collision within BOTH docs, so
    #     s >= |H(A∩B)| >= o - min(c_a, c_b)   (and o <= s + min(c_a, c_b)).
    sh = with_shingles(df, n=n, text_col=text_col, id_col=id_col)
    sized = _cache_one_slot(
        sh.select(
            F.col(id_col),
            F.col("_sh"),
            F.array_distinct(
                F.transform(F.col("_sh"), lambda s: _cand_hash(s))
            ).alias("_hs"),
        ).select(
            F.col(id_col),
            F.col("_sh"),
            F.col("_hs"),
            F.size("_sh").alias("_n"),
            F.size("_hs").alias("_nh"),
        )
    )
    postings = sized.select(
        F.col(id_col), F.col("_n"), F.col("_nh"), F.explode("_hs").alias("_h")
    )
    dfreq = postings.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_df").asc(), F.col("_h").asc()
    )
    # ceil biased DOWN by epsilon: t*n can land one double ulp ABOVE the
    # exact integer product (0.07*100 = 7.000000000000001), which would
    # over-round the required overlap and under-size the prefix — losing
    # true pairs. Erring low only lengthens the prefix (more candidates,
    # never fewer), so exactness is preserved for any threshold.
    #
    # Collision-aware prefix bound: a true pair shares o >= ceil(t*n)
    # true shingles, hence s >= ceil(t*n) - min(c_a, c_b) >=
    # ceil(t*n) - c =: required >= 1 shared HASHES (clamped: o >= 1 for
    # t > 0, and a shared shingle always yields a shared hash), which
    # cannot all hide in the suffix of required - 1 ranked hash slots.
    required = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
        - (F.col("_n") - F.col("_nh")),
    )
    prefix_len = F.col("_nh") - required + 1
    prefix = (
        postings.join(dfreq, "_h")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= prefix_len)
        .select(id_col, "_n", "_nh", "_h", "_rk")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin length filter: J(A,B) >= t forces t·|A| <= |B| <= |A|/t
    # (|A∩B| is bounded by the smaller set) — stated on the TRUE sizes,
    # which postings carry, so hashing cannot weaken it. The epsilon
    # mirrors the prefix bound's (float t·n can land one ulp high — err
    # towards keeping the candidate, never dropping it).
    sized_ok = (
        F.col("b._n") >= F.lit(threshold) * F.col("a._n") - F.lit(1e-9)
    ) & (
        F.col("a._n") >= F.lit(threshold) * F.col("b._n") - F.lit(1e-9)
    )
    # PPJoin positional filter (replaces the bare dropDuplicates with a
    # same-shuffle aggregation): the FIRST common prefix hash — the
    # shared hash smallest in the global (df, hash) order, i.e. min
    # rank in BOTH docs — bounds the hashed-set overlap at
    # s <= 1 + min(nh_a - ra, nh_b - rb): any common hash ordered
    # before it would itself be a common prefix hash (ranks below
    # ra/rb sit inside both prefixes), contradicting "first". J >= t
    # needs TRUE overlap o >= ceil(t/(1+t)·(|A|+|B|)) (true sizes),
    # and o <= s + min(c_a, c_b), so candidates with
    # 1 + min(nh_a - ra, nh_b - rb) + min(c_a, c_b) < alpha can never
    # be true pairs and skip the full-array verify entirely (measured
    # at sf0.1 t=0.5: 309,803 -> 124,979 verify pairs, exactness
    # untouched; the collision terms are 0 for every doc there).
    # Relative + absolute epsilon, both biased DOWN: a fixed 1e-9 alone
    # stops covering double rounding once the product exceeds ~4.5e6
    # (k·2^-52 > 1e-9), i.e. multi-million-shingle docs — the magnitude-
    # scaled term keeps ceil from over-rounding to k+1 and pruning a
    # true boundary pair at any size. Erring low only admits extra
    # candidates for the exact verify (r7 review finding #2).
    _overlap_goal = F.lit(threshold / (1.0 + threshold)) * (
        F.col("_na") + F.col("_nb")
    )
    alpha = F.ceil(
        _overlap_goal - _overlap_goal * F.lit(1e-12) - F.lit(1e-9)
    )
    cands = (
        a.join(b, F.col("a._h") == F.col("b._h"))
        .filter((F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & sized_ok)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
            F.col("a._nh").alias("_nha"),
            F.col("b._nh").alias("_nhb"),
        )
        .agg(
            F.min("a._rk").alias("_ra"),
            F.min("b._rk").alias("_rb"),
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("_nha") - F.col("_ra"), F.col("_nhb") - F.col("_rb")
            )
            + F.least(
                F.col("_na") - F.col("_nha"), F.col("_nb") - F.col("_nhb")
            )
            >= alpha
        )
    )
    # Verify stage (round-12, VERDICT r11 #2 + guide §2.3): candidates
    # attach each side's arrays ONCE (hashed + true), and a hashed
    # UPPER BOUND on the true Jaccard gates the expensive string-array
    # math: with s = |H(A)∩H(B)| (an 8-byte-long intersect, ~4x cheaper
    # than the string one), the true overlap obeys
    # o <= min(s + min(c_a, c_b), |A|, |B|) =: i_max (every intersection
    # witness survives hashing except the <= min(c_a, c_b) within-both
    # merges), and J = o/(|A|+|B|-o) is monotone in o, so
    # UB = i_max/(|A|+|B|-i_max) >= J. Pairs with UB < t are exactly
    # false — dropped with no string work; survivors still pass through
    # the EXACT string verify (cross-doc collisions can inflate s, so
    # the hashed bound alone can never ACCEPT). Measured at sf0.1
    # t=0.5: 124,839 candidates, 256 survive the bound = the 256 true
    # pairs; the string set-ops run on 0.2% of candidates
    # (in-session A/B 2.5 -> 1.3 s; outputs verified identical).
    both_a = sized.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("sh_a"),
        F.col("_hs").alias("hs_a"),
    )
    both_b = sized.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("sh_b"),
        F.col("_hs").alias("hs_b"),
    )
    i_h = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    i_max = F.least(
        i_h
        + F.least(
            F.col("_na") - F.col("_nha"), F.col("_nb") - F.col("_nhb")
        ),
        F.col("_na"),
        F.col("_nb"),
    )
    ub = i_max / (F.col("_na") + F.col("_nb") - i_max)
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.join(both_a, "id_a")
        .join(both_b, "id_b")
        .filter(ub >= F.lit(threshold) - F.lit(1e-12))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MINHASH_PRIME), rng.randrange(0, _MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def hashed_shingles(shingle_col: Column) -> Column:
    """Stable 64-bit hashes of shingles, reduced into [0, 2^31-1).

    pmod (not abs+%) so Long.MIN_VALUE from xxhash64 cannot overflow.
    """
    return F.transform(
        shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_PRIME))
    )


def minhash_signature(
    hashed_col: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """Array of ``num_hashes`` minhash values over pre-hashed shingles.

    k affine permutations ``(a*h + b) mod p`` → per-permutation min, all
    one JVM expression tree; no UDFs, no extra shuffle. Takes the OUTPUT
    of :func:`hashed_shingles` as a bound column — passing the hashing
    expression directly would re-inline it into all k permutations.

    This is the pure-Column reference; the pipeline default is
    :func:`minhash_signature_arrow`, measured ~2x faster (the k=64
    separate ``transform`` passes lose to one vectorized matrix op).
    """
    params = _minhash_params(num_hashes, seed)
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hashed_col,
                    lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_PRIME),
                )
            )
            for a, b in params
        ]
    )


# Per-(params, context) cache of the registered signature UDF (round-12,
# VERDICT r11 #5): re-wrapping the pandas_udf on every invocation paid
# function pickling + py4j registration per query CONSTRUCTION. Keyed by
# the live SparkContext's id so a restarted session can never be served
# a UDF holding stale JVM handles.
_SIG_UDF_CACHE: dict[tuple, object] = {}


def _sig_udf(num_hashes: int, seed: int):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    # applicationId is unique per context (a timestamped string), unlike
    # id(sc), which CPython can reuse after the old context is
    # collected — a reused id would serve a UDF whose lazily-cached
    # _judf still points at the dead JVM.
    app = sc.applicationId if sc is not None else None
    key = (num_hashes, seed, app)
    cached = _SIG_UDF_CACHE.get(key) if app is not None else None
    if cached is not None:
        return cached
    params = _minhash_params(num_hashes, seed)

    @F.pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        import numpy as np

        a = np.array([p[0] for p in params], dtype=np.int64)[None, :]
        b = np.array([p[1] for p in params], dtype=np.int64)[None, :]
        # Column parity: F.array(array_min(transform(x)), ...) yields an
        # ARRAY of nulls for both null and empty inputs (array_min of
        # empty/null is null), never a null array.
        empty = [None] * len(params)
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append(empty)
            else:
                hv = np.asarray(h, dtype=np.int64)
                out.append(((hv[:, None] * a + b) % _MINHASH_PRIME).min(axis=0))
        return pd.Series(out)

    if app is not None:
        # Only the live context's entries can ever be served again: drop
        # the rest, so a process that restarts sessions keeps one
        # context's worth of UDFs, not one per context it ever had.
        for k in [k for k in _SIG_UDF_CACHE if k[2] != app]:
            del _SIG_UDF_CACHE[k]
        _SIG_UDF_CACHE[key] = _sig
    return _sig


def minhash_signature_arrow(
    hashed_col: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """Arrow-batched minhash signatures: one numpy broadcastized
    ``min((h[:,None]*A + B) % p, axis=0)`` per row instead of
    ``num_hashes`` separate JVM array traversals.

    Bit-identical to :func:`minhash_signature` (same params, same
    modulus, same null/empty semantics: null or empty input → array of
    nulls, matching F.array-of-array_min; parity pinned in tests). Measured at sf0.1 / 64 hashes: 1.37 s → 0.74 s warm, 4.2 s →
    1.8 s cold. The exception that proves the "UDFs are the slow path"
    rule: the built-in expression repeats k passes over the same array,
    the Arrow batch does one matrix op — intermediates stay < 2^62
    (prime 2^31-1 bounds both factors), so int64 never overflows.
    """
    return _sig_udf(num_hashes, seed)(hashed_col)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact Jaccard.

    Default banding is b=32, r=2 (S-curve midpoint ≈ 0.18): high recall
    for J >= 0.5 thresholds. b=16/r=4 puts the midpoint AT 0.5 — ~50%
    recall right at the threshold — so prefer more bands whenever the
    output feeds an exactness-checked consumer.

    Plan shape (scale-first): signatures are computed in one pass; each doc
    explodes to ``bands`` rows keyed by (band index, hash of the band's
    signature slice); candidates come from an equi-join on that key (the
    only shuffle that grows with corpus size); candidate pairs are then
    verified with exact shingle Jaccard, so precision is exact regardless
    of banding.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    sh = with_shingles(df, n=n, text_col=text_col, id_col=id_col)
    hashed = sh.select(
        F.col(id_col), F.col("_sh"), hashed_shingles(F.col("_sh")).alias("_hs")
    )
    # Persist (id, shingles, signature): it feeds the banding self-join
    # (both sides) AND the verify-stage joins — four consumers total.
    # Without it Spark recomputes the whole regex→shingle→signature
    # pipeline per consumer (broadcast exchanges are not reused across
    # plan-identical sides the way shuffle exchanges are). The cache slot
    # is bounded: each invocation evicts the previous invocation's table.
    sig = hashed.select(
        F.col(id_col),
        F.col("_sh"),
        minhash_signature_arrow(F.col("_hs"), num_hashes, seed).alias("_sig"),
    )
    sig = _cache_one_slot(sig)

    # Banding join kept SLIM: (id, band, bhash) only — shingle payloads
    # must not be duplicated x bands through the shuffle/broadcast.
    banded = sig.select(
        F.col(id_col),
        F.explode(_band_array_expr(bands, rows_per_band)).alias("_b"),
    ).select(id_col, "_b.band", "_b.bhash")

    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash")),
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    # Verify stage: exact Jaccard over the (persisted) shingle sets of the
    # surviving candidate pairs only.
    sh_a = sig.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = sig.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs_prefix(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact asymmetric-containment pairs via the one-sided prefix filter.

    Directed pairs (id_small, id_big) with C(A→B) = |A∩B|/|A| >=
    ``threshold``, where A is the smaller shingle set (ties: lower id).
    Same answers as the plain postings-count formulation (parity is
    test-pinned bit-for-bit); different candidate cost model.

    The prefix bound is ONE-SIDED for containment (the asymmetric
    PPJoin variant): C(A→B) >= t forces |A∩B| >= ceil(t·|A|) shared
    shingles, which cannot all hide in A's suffix of
    ``ceil(t·|A|) - 1`` slots — so A need only emit its first
    ``|A| - ceil(t·|A|) + 1`` shingles by ascending global document
    frequency. B gets NO prefix (containment places no lower bound on
    B's share of the intersection) and emits all postings, but
    candidates are pruned with the size bound ``|B| >= ceil(t·|A|)``
    (the intersection can't exceed |B|). Hot shingles are everyone's
    suffix on the contained side, so the Σ df² term is paid only as
    Σ prefix_df·df — the same reshaping that fixes
    :func:`ngram_jaccard_pairs_prefix`. The exact array-intersect
    verify restores exactness on the candidate superset.

    Scale ceiling (measured, BASELINE.md round-3): like every EXACT
    all-pairs operator, candidate/verify volume is Ω(true pairs). At
    the 100x audit scale the synthetic corpus plants thousands of
    near-identical cross-copy docs, the true directed containment pair
    set goes quadratic in the duplicate-class sizes, and the verify
    spill exceeded local disk. That is a property of the ANSWER, not
    the plan: this operator is the exact-verify twin; at corpus scale
    run MinHash banding first (:func:`minhash_lsh_pairs` / the
    incremental signature store) and keep exact containment for
    candidate verification, exactly as the jaccard family does.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero admits all pairs)")
    # Round-11: candidate stage on the 64-bit hashed shingle universe
    # (see ngram_jaccard_pairs_prefix). Round-12 correctness hardening
    # (ADVICE r11 #1): the bounds are collision-aware — a within-doc
    # collision merging two shingles both shared with the partner can
    # push the HASHED containment below the true value, so the prefix
    # and size bounds below budget for the per-doc merge count
    # c = n - nh explicitly and stay exact for ANY hash function
    # (test-pinned with a deliberately lossy hash). The one fact used:
    # for true overlap o and hashed overlap s,
    # s >= o - min(c_a, c_b) >= o - c_a. The pair DIRECTION stays
    # defined on the TRUE set sizes ``_n`` (it is part of the output
    # contract, not a bound), so postings carry both.
    sh = with_shingles(df, n=n, text_col=text_col, id_col=id_col)
    sized = _cache_one_slot(
        sh.select(
            F.col(id_col),
            F.col("_sh"),
            F.array_distinct(
                F.transform(F.col("_sh"), lambda s: _cand_hash(s))
            ).alias("_hs"),
        ).select(
            F.col(id_col),
            F.col("_sh"),
            F.size("_sh").alias("_n"),
            F.col("_hs"),
            F.size("_hs").alias("_nh"),
        )
    )
    postings = sized.select(
        F.col(id_col), F.col("_n"), F.col("_nh"),
        F.explode("_hs").alias("_h"),
    )
    dfreq = postings.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_df").asc(), F.col("_h").asc()
    )
    # Epsilon biased DOWN, as in the jaccard prefix: t*n can land one
    # double ulp above the exact product, which would shrink the prefix
    # and lose true pairs; erring low only admits extra candidates.
    # Collision-aware one-sided prefix bound: C(A→B) >= t forces
    # o >= ceil(t*|A|) true shared shingles, hence
    # s >= ceil(t*n_a) - c_a =: required >= 1 shared hashes (clamped:
    # o >= 1 for t > 0), which cannot all sit in A's suffix of
    # required - 1 ranked slots.
    required = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
        - (F.col("_n") - F.col("_nh")),
    )
    prefix = (
        postings.join(dfreq, "_h")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_nh") - required + 1)
        .select(id_col, "_n", "_nh", "_h")
    )
    a, b = prefix.alias("a"), postings.alias("b")
    directed = (F.col("a._n") < F.col("b._n")) | (
        (F.col("a._n") == F.col("b._n"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    # Size bound on TRUE sizes (|B| >= o >= t·|A|) — hashing cannot
    # weaken it, and with an injective hash it equals the round-11
    # hashed-size bound.
    size_ok = F.col("b._n") >= F.ceil(
        F.lit(threshold) * F.col("a._n") - F.lit(1e-9)
    )
    cands = (
        a.join(b, F.col("a._h") == F.col("b._h"))
        .filter(
            (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & directed
            & size_ok
        )
        .select(
            F.col(f"a.{id_col}").alias("id_small"),
            F.col(f"b.{id_col}").alias("id_big"),
        )
        .dropDuplicates(["id_small", "id_big"])
    )
    # Verify stage (round-12, VERDICT r11 #2 — same hashed upper bound
    # as the jaccard twin): attach hashed + true arrays once per side;
    # o <= min(i_h + min(c_a, c_b), n_small, n_big) =: i_max bounds the
    # true overlap from above, so i_max/n_small >= C and pairs below
    # threshold on the bound skip the string set-ops entirely;
    # survivors still pass the EXACT string verify (cross-doc
    # collisions can only inflate the bound, never the exact value).
    sh_a = sized.select(
        F.col(id_col).alias("id_small"),
        F.col("_sh").alias("sh_a"),
        F.col("_hs").alias("hs_a"),
        F.col("_n").alias("n_small"),
        F.col("_nh").alias("_nh_a"),
    )
    sh_b = sized.select(
        F.col(id_col).alias("id_big"),
        F.col("_sh").alias("sh_b"),
        F.col("_hs").alias("hs_b"),
        F.col("_n").alias("_n_b"),
        F.col("_nh").alias("_nh_b"),
    )
    i_h = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    i_max = F.least(
        i_h
        + F.least(
            F.col("n_small") - F.col("_nh_a"),
            F.col("_n_b") - F.col("_nh_b"),
        ),
        F.col("n_small"),
        F.col("_n_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    cont = inter / F.col("n_small")
    # Threshold on the UN-rounded ratio (bit parity with the plain
    # postings-count formulation and the SQL oracle, both of which
    # filter before rounding).
    return (
        cands.join(sh_a, "id_small")
        .join(sh_b, "id_big")
        .filter(
            i_max / F.col("n_small") >= F.lit(threshold) - F.lit(1e-12)
        )
        .filter(cont >= threshold)
        .select(
            "id_small",
            "id_big",
            F.col("n_small").cast("long").alias("n_small"),
            inter.cast("long").alias("n_shared"),
            F.round(cont, 6).alias("containment"),
        )
    )


def minhash_sig_table(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Persistable signature table ``(id, _sh, _sig)`` — the asset an
    incremental/streaming dedup pipeline computes ONCE per document,
    ever, and appends to a store. Identical shingle/signature pipeline
    to :func:`minhash_lsh_pairs` (same params → byte-identical
    signatures), factored out so a store side and a batch side can be
    produced independently and joined across."""
    sh = with_shingles(df, n=n, text_col=text_col, id_col=id_col)
    hashed = sh.select(
        F.col(id_col), F.col("_sh"), hashed_shingles(F.col("_sh")).alias("_hs")
    )
    return hashed.select(
        F.col(id_col),
        F.col("_sh"),
        minhash_signature_arrow(F.col("_hs"), num_hashes, seed).alias("_sig"),
    )


def _band_array_expr(bands: int, rows_per_band: int) -> Column:
    """``array<struct<band:int,bhash:bigint>>`` of banding keys over a
    bound ``_sig`` column, rendered as ONE SQL expression string.

    Round-12 (the lit_doubles lesson, guide §5 driver boundary): the
    per-band ``F.struct``/``F.lit``/``F.slice`` unroll cost ~200 py4j
    round-trips of query CONSTRUCTION per invocation; one expr string
    parses JVM-side in a single call. The parsed plan is the SAME fully
    unrolled, codegen'd array — deliberately NOT a transform-over-
    sequence, which would evaluate a higher-order function per row at
    scale. ``xxhash64`` / literal ints in SQL are the identical
    expressions the Column API built (same default seed 42), so band
    keys are byte-identical.
    """
    terms = ",".join(
        f"named_struct('band',{i},'bhash',"
        f"xxhash64(slice(_sig,{i * rows_per_band + 1},{rows_per_band})))"
        for i in range(bands)
    )
    return F.expr(f"array({terms})")


def lsh_blocked_ids(
    batch_sig: DataFrame,
    store_sig: DataFrame | None,
    threshold: float,
    bands: int = 32,
    num_hashes: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch ids BLOCKED by a near-dup partner (exact Jaccard >=
    ``threshold``) in the store, or by a lower-id partner within the
    batch — the greedy, non-recursive admission rule of
    ``dedup_incremental``, factored over two signature tables.

    Plan shape: ONE band equi-join. The partner table is the batch
    (``_st`` false) unioned with the store (``_st`` true), so the
    within-batch and the against-store candidates share one join, and
    the store is scanned once. Both sides explode to ``bands`` rows of
    ``(band, bhash)`` and carry their shingle arrays, so the exact
    Jaccard verify runs on the join output itself: no candidate dedup,
    no verify joins. The id rule (``_st OR _q < _b``: the store side has
    no id filter) and the verify share one filter, then the blocked
    batch ids are made distinct. A pair that collides in k bands is
    verified k times; at micro-batch sizes that costs less than the
    ``dropDuplicates`` shuffle and the two shingle joins it replaces.

    Cost trade-off: the partner shingles ride the PROBE side of the band
    join. That is free while the batch key table (the batch's rows x
    ``bands``) is small enough to broadcast, which is the per-micro-batch
    regime: the store streams through the broadcast once, in proportion
    to its size, and nothing store-sized is shuffled. Above the
    broadcast threshold the join becomes a sort-merge join, and it would
    shuffle ``bands`` rows per partner, each carrying its shingle array."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    band_keys = _band_array_expr(bands, num_hashes // bands)

    def tagged(sig: DataFrame, in_store: bool) -> DataFrame:
        return sig.select(
            F.col(id_col).alias("_q"), F.lit(in_store).alias("_st"), "_sig", "_sh"
        )

    partners = tagged(batch_sig, False)
    if store_sig is not None:
        partners = partners.unionByName(tagged(store_sig, True))
    b_keys = batch_sig.select(
        F.col(id_col).alias("_b"), F.col("_sh").alias("sh_b"), F.inline(band_keys)
    )
    q_keys = partners.select(
        "_q", "_st", F.col("_sh").alias("sh_q"), F.inline(band_keys)
    )
    jac = jaccard(F.col("sh_q"), F.col("sh_b"))
    return (
        b_keys.join(q_keys, ["band", "bhash"])
        .filter(
            (F.col("_st") | (F.col("_q") < F.col("_b")))
            & (F.round(jac, 6) >= threshold)
        )
        .select(F.col("_b").alias(id_col))
        .distinct()
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document over token hashes.

    For each bit position, sum +1/-1 across token hashes and take the
    sign. Implemented as 64 conditional aggregations over an exploded
    token stream — one shuffle on the doc id, all JVM-side.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokenize(sanitize(F.col(text_col)))).alias("_tok"),
    ).withColumn("_h", F.xxhash64("_tok"))
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), b).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    # Assemble the fingerprint: set bit b when the bit-sum is positive.
    # Bit 63 contributes the sign term so the result stays a valid int64.
    fingerprint = None
    for b in range(64):
        bit = F.when(F.col(f"_b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << b).cast("long") if b < 63 else bit * F.lit(-(1 << 63))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs whose SimHash Hamming distance <= k.

    Banding: split the 64-bit fingerprint into (k+1) chunks; any pair
    within distance k agrees on at least one chunk (pigeonhole), so the
    candidate join is an equi-join on (chunk index, chunk value).
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    sh = simhash64(df, text_col, id_col)
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("cval"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("_c"),
    ).select(id_col, "simhash", "_c.chunk", "_c.cval")
    # Plan-identical sides → the banded shuffle is computed once
    # (ReuseExchange), not twice.
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval")),
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicated_substring_spans(
    df: DataFrame,
    k: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal character spans (length >= k) whose every k-gram repeats
    corpus-wide — the distributed reformulation of suffix-array
    exact-substring training-data dedup (reference: the "dedup training
    data" pipeline op; generalizes /root/reference's n-gram counting,
    WordCountV2.java, from tokens to raw character positions).

    Plan, in one digest shuffle: (1) explode each char position 1..L-k+1
    and md5 its k-gram in the SAME projection — the text column never
    shuffles, only (id, pos, 16-byte digest) rows; (2) a window count
    over the digest marks positions whose gram occurs >= 2 times — the
    distributed analogue of the suffix-array sort, on uniform 16-byte
    keys (no skew by construction); (3) a per-doc gaps-and-islands
    window (pos - row_number over pos) merges consecutive duplicated
    positions into maximal spans. Any duplicated span of length >= k
    contains only duplicated k-grams, and every maximal span is exactly
    the union of consecutive duplicated gram starts, so the
    reconstruction is lossless.

    The window-count form deliberately replaces groupBy-then-semi-join:
    that shape consumes the gram table twice (Catalyst re-inlines the
    substring/md5 pipeline per consumer — the round-3 one-slot-cache
    trap) and shuffles twice; the window does it in one pass, no cache.
    Gram rows ~= corpus bytes — the same order as tokenization. At
    100 TB this is the exact-verify twin run on the suspect slice that
    MinHash/LSH surfaces, not the whole corpus.
    """
    island = Window.partitionBy(id_col).orderBy("pos")
    return (
        _duplicated_gram_starts(df, k, text_col, id_col)
        .withColumn("grp", F.col("pos") - F.row_number().over(island))
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def _gram_digest_table(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """``(id_col, pos, dig)``: one 16-byte md5 digest per 1-based char
    position's k-gram — the exact-substring family's fan-out stage.
    Explode is narrow and the digest is computed in the same
    projection, so the text column never shuffles downstream."""
    return (
        df.filter(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - k + 1)
            ).alias("pos"),
            F.col(text_col).alias("_t"),
        )
        .select(
            id_col,
            "pos",
            F.unhex(F.md5(F.expr(f"substring(_t, pos, {int(k)})"))).alias(
                "dig"
            ),
        )
    )


def _duplicated_gram_starts(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    within_doc: bool = False,
) -> DataFrame:
    """``(id_col, pos)`` of every 1-based char position whose k-gram
    occurs >= 2 times — corpus-wide by default, or inside its own
    document with ``within_doc=True`` (the self-repetition variant;
    the count window then partitions by (id, digest), so partitions
    are doc-bounded and the shuffle key carries the doc id). ONE
    digest-keyed window count over the gram digest table (uniform
    16-byte keys, no skew)."""
    part = (
        Window.partitionBy(id_col, "dig")
        if within_doc
        else Window.partitionBy("dig")
    )
    n_occ = F.count(F.lit(1)).over(part)
    return (
        _gram_digest_table(df, k, text_col, id_col)
        .withColumn("n_occ", n_occ)
        .filter(F.col("n_occ") >= 2)
        .select(id_col, "pos")
    )


def duplicated_char_coverage(
    df: DataFrame,
    k: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_doc: bool = False,
) -> DataFrame:
    """Per-document count of characters covered by at least one
    corpus-wide duplicated k-gram — the scalar curation signal behind
    "drop documents more than X% duplicated" gates (the per-doc
    aggregate of ``duplicated_substring_spans``; same first stage).

    A duplicated gram start ``pos`` covers chars ``[pos, pos+k-1]``, so
    summing span lengths would double-count chars shared by starts
    closer than k. The union length needs no explicit interval merge:
    in per-doc pos order, the first start contributes k new chars and
    every later start contributes ``min(pos - prev_pos, k)`` — one
    ``lag`` window (doc-bounded partitions) and one sum.

    Returns ``(id_col, dup_chars)`` for docs with >= 1 duplicated gram
    only — callers left-join and coalesce to 0 (docs shorter than k can
    never appear). Scale shape is the span operator's: gram rows ~=
    corpus bytes through ONE uniform 16-byte-digest shuffle, then a
    doc-bounded window + doc-keyed aggregation.
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    new_chars = F.least(
        F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(k)),
        F.lit(k),
    )
    return (
        _duplicated_gram_starts(df, k, text_col, id_col, within_doc)
        .select(id_col, new_chars.alias("new_chars"))
        .groupBy(id_col)
        .agg(F.sum("new_chars").cast("long").alias("dup_chars"))
    )


def cut_duplicated_spans(
    df: DataFrame,
    k: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, cleaned)``: each document's text with every character
    covered by a corpus-wide duplicated k-gram removed — the actual cut
    step of exact-substring training-data dedup (the span/coverage
    reports locate the duplication; this emits the deduplicated text).

    Stage 1 is the family's shared digest shuffle
    (``_duplicated_gram_starts``). Stage 2 merges gram starts into
    disjoint covered char intervals: starts p1, p2 overlap-or-touch iff
    ``p2 <= p1 + k``, so a gaps-and-islands window breaks at gap > k
    and each island covers ``[min(pos), max(pos) + k - 1]``
    (doc-bounded windows). Stage 3 aggregates each doc's intervals into
    ONE sorted array row, joins the text back (one row per doc — the
    text is never duplicated per interval), and reconstructs the kept
    text with a single ``aggregate`` fold over the interval array
    (JVM-side lambda, no UDF): carry (next_kept_pos, acc), append the
    kept slice before each interval, finish with the tail.

    Docs with no duplicated grams pass through unchanged (left join +
    coalesce). Output rows are <= input text size by construction —
    run AFTER doc-level dedup, this is the span-level residue cut.
    """
    starts = _duplicated_gram_starts(df, k, text_col, id_col)
    return _cut_from_starts(df, starts, k, text_col, id_col)


def cut_matching_gram_spans(
    df: DataFrame,
    ref: DataFrame,
    k: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, cleaned)``: each document's text with every char
    covered by a k-gram that ALSO occurs anywhere in ``ref`` removed —
    surgical benchmark decontamination (cut the contaminated span, keep
    the document) instead of the drop-the-whole-doc gate.

    Same machinery as :func:`cut_duplicated_spans` with one change:
    the cut predicate is a semi-join of the corpus gram digest table
    against ``ref``'s DISTINCT gram digests rather than a corpus-wide
    count. The ref side is broadcast — benchmarks are small by nature
    (a few MB of eval text versus a 100-TB train corpus), so the train
    gram table never shuffles at all on this path: broadcast semi-join,
    then doc-bounded interval-merge windows.
    """
    ref_digs = F.broadcast(
        _gram_digest_table(ref, k, text_col, id_col).select("dig").distinct()
    )
    starts = (
        _gram_digest_table(df, k, text_col, id_col)
        .join(ref_digs, "dig", "left_semi")
        .select(id_col, "pos")
    )
    return _cut_from_starts(df, starts, k, text_col, id_col)


def _cut_from_starts(
    df: DataFrame,
    starts: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared cut stitch: merge cut gram starts into disjoint covered
    char intervals, pack each doc's intervals into one sorted array
    row, join the text back once per doc, rebuild the kept text with a
    JVM-side ``aggregate`` fold."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))
    )
    intervals = (
        starts.withColumn("brk", brk)
        .withColumn(
            "grp",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("a"),
            (F.max("pos") + k - 1).alias("b"),
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("a", "b"))).alias("iv")
        )
    )
    cleaned = F.expr(
        f"""
        aggregate(
            iv,
            named_struct('pos', 1, 'acc', ''),
            (s, x) -> named_struct(
                'pos', x.b + 1,
                'acc', concat(s.acc, substring({text_col}, s.pos,
                                               x.a - s.pos))),
            s -> concat(s.acc, substring({text_col}, s.pos,
                                         length({text_col}) - s.pos + 1))
        )
        """
    )
    return df.join(intervals, id_col, "left").select(
        id_col,
        F.coalesce(cleaned, F.col(text_col)).alias("cleaned"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 25,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): from every window of ``w`` consecutive k-gram
    hashes, select the minimal one (ties to the leftmost position);
    the distinct selected ``(pos, hash)`` set is the fingerprint.
    Guarantee: any shared substring of length >= w + k - 1 between two
    docs yields at least one shared fingerprint, at ~2/(w+1) the
    density of the full gram set.

    Spark shape: the gram fan-out projection (text never shuffles),
    then ONE doc-bounded sliding window taking ``min(struct(dig,
    pos))`` over the trailing w rows — struct comparison is
    lexicographic (digest, then position) in both Spark and the DuckDB
    oracle, so the leftmost-minimum tie-break is engine-identical —
    then a distinct on the selected rows. Digests stay hex STRINGS
    end-to-end: string ordering is the cross-engine contract (binary
    columns also compare lexicographically but round-trip differently
    through driver canonicalization).

    Only full windows select (``pos >= w``): docs with fewer than w
    grams (length < k + w - 1) emit no fingerprints.
    """
    if w < 1:
        raise ValueError("window w must be >= 1")
    digs = (
        df.filter(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - k + 1)
            ).alias("pos"),
            F.col(text_col).alias("_t"),
        )
        .select(
            id_col,
            "pos",
            F.md5(
                F.expr(f"substring(_t, pos, {int(k)})").cast("binary")
            ).alias("dig"),
        )
    )
    sel = F.min(F.struct("dig", "pos")).over(
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    return (
        digs.withColumn("sel", sel)
        .filter(F.col("pos") >= w)
        .select(
            id_col,
            F.col("sel.pos").cast("long").alias("pos"),
            F.col("sel.dig").alias("dig"),
        )
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    k: int = 25,
    w: int = 8,
    min_shared: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The MOSS match step over :func:`winnowing_fingerprints`: doc
    pairs sharing >= ``min_shared`` distinct fingerprint digests, with
    the shared count and an exact integer containment score
    (``n_shared * 1e6 DIV min(n_a, n_b)`` — 1e6 means one side's
    fingerprint set is contained in the other's).

    Inverted-index shape, not a cross join: distinct (doc, digest)
    postings self-join on the digest and count co-occurrences — the
    same Σ posting-list² cost model as the shingle Jaccard family, but
    over a fingerprint set winnowed to ~2/(w+1) of the grams, which is
    the algorithm's point: candidate generation cost shrinks
    quadratically in the winnowing density while the >= w + k - 1
    shared-substring guarantee holds. Boilerplate-heavy corpora still
    produce hot fingerprint digests — cap or prefix-filter them exactly
    as the Jaccard twin does (measured here: hottest posting list 4).

    The fingerprint table feeds BOTH join sides, so it goes through the
    one-slot cache — Catalyst re-inlines the explode/md5/window
    pipeline per consumer otherwise (the round-3 regression class).
    """
    fp = cache_one_slot(
        winnowing_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
        .select(id_col, "dig")
        .distinct(),
        "winnow-fingerprints",
    )
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    postings = fp.join(sizes, id_col)
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(b, F.col("a.dig") == F.col("b.dig"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.expr("n_shared * 1000000 DIV least(_na, _nb)")
            .cast("long")
            .alias("containment_ppm"),
        )
    )


def pair_attr_matrix(
    pairs: DataFrame,
    attrs: DataFrame,
    attr_col: str,
    out_a: str,
    out_b: str,
    id_col: str = "doc_id",
    count_col: str = "n_pairs",
) -> DataFrame:
    """Aggregate a near-dup pair table into an unordered attribute
    matrix: join ``pairs`` (id_a, id_b) twice against the per-doc
    ``attrs`` projection, normalize each pair with least/greatest, and
    count per attribute pair. One shape serves every 'which X are
    duplicating into which Y' report (source overlap, split leakage);
    the joins ship only pair-sized data and the output is bounded by
    |attr domain|².
    """
    a = attrs.select(
        F.col(id_col).alias("id_a"), F.col(attr_col).alias("_aa")
    )
    b = attrs.select(
        F.col(id_col).alias("id_b"), F.col(attr_col).alias("_ab")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("_aa", "_ab").alias(out_a),
            F.greatest("_aa", "_ab").alias(out_b),
        )
        .groupBy(out_a, out_b)
        .agg(F.count(F.lit(1)).cast("long").alias(count_col))
    )
