"""Product quantization (PQ) for approximate nearest-neighbor search.

The third classic ANN scale path alongside sign-bit LSH
(``similarity.ann_topk_lsh``) and IVF coarse quantization
(``similarity.ivf_topk``), and the one that attacks MEMORY rather than
candidate count: each ``d``-dim float vector is split into ``m``
subspaces and every subspace is vector-quantized against its own
``ksub``-centroid codebook, so a vector stores as ``m`` small codes —
64 float32 dims (256 B) compress to 8 four-bit codes packed in one
INT (32 bits), a 64x reduction. A billion-vector corpus that cannot
hold its floats in cluster memory holds its PQ codes easily; that is
why IVF-PQ is the standard layout for web-scale vector indexes
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — public literature, reimplemented here from the paper's
description on Spark primitives).

Search uses asymmetric distance computation (ADC): the query stays
un-quantized; per query a lookup table of ``m x ksub`` partial inner
products against the codebook centroids is computed ONCE (a pure
Column expression over literal codebooks — tiny), and each corpus
row's approximate score is ``m`` table lookups indexed by its codes.
No Python touches the scan; the whole corpus pass is JVM codegen over
the packed-code column, followed by a per-query top-R WindowGroupLimit
and an exact re-rank of the R survivors.

Everything is deterministic: codebooks come from
``ml.kmeans_lloyd`` (lowest-id seeding, fixed iteration count) on a
deterministic xxhash64-ordered training sample, so results are a pure
function of the input — the property every test here leans on.

Reference scope note: the reference engine (see SURVEY.md §0) has no
vector search at all; this module is part of the demanded
LLM-pipeline generalization (similarity-search pillar).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_map_reduce_spark.functions.vectors import (
    cosine_similarity,
    doubles_sql,
    lit_doubles,
)
from hadoop_map_reduce_spark.operators.ml import kmeans_lloyd
from hadoop_map_reduce_spark.operators.similarity import top_k_by_sim

CODE_BITS = 4  # ksub <= 16 packs one code per nibble


def _require_sample_rows(n: int, ksub: int, family: str) -> None:
    """Lloyd seeding takes the first ``ksub`` sample rows; fail with a
    named error instead of a bare IndexError (or, worse, a silently
    smaller codebook on the distributed path) when the corpus cannot
    supply them."""
    if n < ksub:
        raise ValueError(
            f"{family} training sample has {n} rows but ksub={ksub} "
            "centroids are requested; Lloyd seeding needs at least "
            "ksub rows (grow the corpus or lower ksub/train_rows)"
        )


def _round_half_up(v: float) -> int:
    """Spark's ROUND on doubles: half away from zero (not banker's) —
    the semantics ``ml.kmeans_lloyd``'s exact-integer mean uses and
    ``tests/test_ml_queries.py`` pins."""
    import math

    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def _lloyd_driver(
    rows: list[tuple[int, list[float]]], k: int, n_iter: int
) -> list[list[float]]:
    """Driver-side replay of ``ml.kmeans_lloyd`` — bit-identical by
    construction: same lowest-id seeding, same left-to-right squared-L2
    fold, same first-occurrence argmin, same exact-integer centroid
    mean (sum of round-half-up micro-units / n / SCALE), empty clusters
    keeping their previous centroid. Parity with the distributed
    trainer is test-pinned (``test_pq_driver_training_parity``)."""
    from hadoop_map_reduce_spark.operators.ml import SCALE

    rows = sorted(rows, key=lambda r: r[0])
    centroids = [list(map(float, rows[i][1])) for i in range(k)]
    for _ in range(n_iter):
        sums = [[0] * len(centroids[0]) for _ in range(k)]
        counts = [0] * k
        for _vid, vec in rows:
            dists = []
            for c in centroids:
                acc = 0.0
                for x, y in zip(vec, c):
                    acc = acc + (float(x) - y) * (float(x) - y)
                dists.append(acc)
            ci = dists.index(min(dists))
            counts[ci] += 1
            for p, x in enumerate(vec):
                sums[ci][p] += _round_half_up(float(x) * SCALE)
        for ci in range(k):
            if counts[ci]:
                for p in range(len(sums[ci])):
                    centroids[ci][p] = sums[ci][p] / counts[ci] / SCALE
    return centroids


def pq_train_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    train_rows: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    driver_train: bool = True,
) -> list[list[list[float]]]:
    """Train ``m`` subspace codebooks of ``ksub`` centroids each.

    The training set is a deterministic ``train_rows``-row sample (the
    smallest ``xxhash64(id)`` values — stable across partitionings,
    the same device ``ivf_topk`` uses for its centroid sample): PQ
    codebooks are trained on a bounded sample at ANY corpus scale, so
    training cost is fixed while encode/search stay distributed.

    ``driver_train=True`` (default) collects the bounded sample once
    and runs the Lloyd iterations in-process — the sample is
    driver-small BY CONTRACT (``train_rows`` caps it), so
    ``m * n_iter`` distributed jobs over a few thousand rows would be
    pure scheduler overhead (measured: 26 s -> ~2 s at sf0.01).
    ``driver_train=False`` runs ``ml.kmeans_lloyd`` per subspace on
    the cluster; both paths produce bit-identical codebooks
    (test-pinned) because the driver path replays the distributed
    trainer's exact arithmetic. Returned structure:
    ``codebooks[j][c] = centroid c of subspace j`` (plain Python
    lists — ``m * ksub * dsub`` floats, broadcast as literals).
    """
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    if ksub > (1 << CODE_BITS):
        raise ValueError(f"ksub must be <= {1 << CODE_BITS} to pack nibbles")
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    sample = (
        df.select(F.col(id_col).alias("_id"), vec.alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(train_rows)
    )
    if driver_train:
        collected = [(r["_id"], list(r["_v"])) for r in sample.collect()]
        _require_sample_rows(len(collected), ksub, "PQ")
        return [
            _lloyd_driver(
                [(i, v[j * dsub : (j + 1) * dsub]) for i, v in collected],
                ksub,
                n_iter,
            )
            for j in range(m)
        ]
    # One materialized pass feeds all m subspace trainings. The sample
    # guard covers this branch too (r10 review: the distributed path
    # would otherwise silently seed kmeans_lloyd from fewer-than-ksub
    # rows and return structurally different codebooks, breaking the
    # documented bit-parity between the two paths); the count is
    # bounded by train_rows.
    from hadoop_map_reduce_spark.operators.caching import cache_one_slot

    sample = cache_one_slot(sample, "pq_train_sample")
    _require_sample_rows(sample.count(), ksub, "PQ")
    books: list[list[list[float]]] = []
    for j in range(m):
        sliced = sample.select(
            "_id", F.slice(F.col("_v"), j * dsub + 1, dsub).alias("_s")
        )
        _, cents = kmeans_lloyd(
            sliced, vec_col="_s", id_col="_id", k=ksub, n_iter=n_iter
        )
        books.append(cents)
    return books


def _nearest_code(sub: Column, book: list[list[float]]) -> Column:
    """Index of the nearest centroid by squared L2, ties to the lower
    code. One 2-level literal array + one ``transform`` lambda instead
    of ``ksub`` separate expression subtrees: the unrolled struct-sort
    form made analysis/codegen scale with ``ksub x dsub`` PER OPERATOR
    USE (measured r9: a 16-cell x 64-dim assignment scan spent ~40 s in
    plan machinery vs ~2.6 s in this form — the data was never the
    cost). ``array_position`` returns the FIRST index of the min, the
    same tie the struct-sort device broke (pinned by the census
    oracles)."""
    book_lit = lit_doubles(book)
    d2s = F.transform(
        book_lit,
        lambda cvec: F.aggregate(
            F.zip_with(sub, cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as one packed INT of ``m`` nibble codes.

    Pure Column arithmetic against literal codebooks — a single
    shuffle-free corpus scan (the 100-TB shape: encode once, store the
    codes column, drop the floats). Code ``j`` occupies bits
    ``[4j, 4j+4)``; ``pq_decode_col`` below unpacks them.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    packed = F.lit(0).cast("long")
    for j, book in enumerate(codebooks):
        sub = F.slice(vec, j * dsub + 1, dsub)
        packed = packed + F.shiftleft(
            _nearest_code(sub, book).cast("long"), CODE_BITS * j
        )
    return df.select(
        F.col(id_col).alias("pq_id"), packed.alias("pq_codes")
    )


def _code_at(codes: Column, j: int) -> Column:
    return F.shiftright(codes, CODE_BITS * j).bitwiseAND(
        F.lit((1 << CODE_BITS) - 1)
    )


def _vec_sql(vec_col: str) -> str:
    """SQL fragment for a vector column widened to array<double> — the
    query-vector operand the one-expression trees below embed."""
    return f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"


def _query_lut(
    qvec_sql: str, codebooks: list[list[list[float]]], dsub: int
) -> Column:
    """Flat ``m * ksub`` ADC lookup table <q_sub_j, centroid_{j,c}> as
    nested transforms over one literal codebook array — a constant-size
    expression tree whatever m/ksub are.

    Round-12 (guide §5 driver boundary, the lit_doubles lesson one
    level up): the whole tree is ONE SQL expression string — the
    Column-API version cost a py4j round-trip per lambda/aggregate
    node on every query construction. The parsed expressions are
    identical (same functions, same left-to-right double fold), so
    results are bit-equal; ``qvec_sql`` is the query-vector operand as
    SQL (see :func:`_vec_sql`)."""
    books_sql = doubles_sql(codebooks)
    return F.expr(
        f"flatten(transform({books_sql}, (book, j) -> "
        f"transform(book, cvec -> "
        f"aggregate(zip_with(slice({qvec_sql}, j * {int(dsub)} + 1, "
        f"{int(dsub)}), cvec, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v))))"
    )


def _adc_sum_sql(
    m: int,
    ksub: int,
    *leading: str,
    lut_col: str = "_lut",
    codes_col: str = "pq_codes",
) -> str:
    """The ADC score ``(leading +) Σ_j LUT[j][code_j]`` as one SQL
    string — strictly LEFT-ASSOCIATIVE addition in the original term
    order, so the double accumulation is bit-identical to the old
    per-term Column chain. ``lut_col`` and ``codes_col`` name the LUT
    array and the packed-code column the string refers to."""
    mask = (1 << CODE_BITS) - 1
    terms = list(leading) + [
        f"element_at({lut_col}, CAST({j * ksub} + "
        f"(shiftright({codes_col}, {CODE_BITS * j}) & {mask}) + 1 AS INT))"
        for j in range(m)
    ]
    return " + ".join(terms)


def _rerank_shortlist(
    scored: DataFrame,
    corpus: DataFrame,
    k: int,
    refine: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ADC searches' shared tail: keep each query's top ``k * refine``
    rows of ``(_qid, _qvec, neighbor_id, _approx)`` by approximate score
    (ties to the lower neighbor id; a per-query WindowGroupLimit, never a
    single-partition sort), join only those back to their float corpus
    vectors, and rank them by EXACT round-6 cosine with
    ``similarity.top_k_by_sim``."""
    w = Window.partitionBy("_qid").orderBy(
        F.col("_approx").desc(), F.col("neighbor_id").asc()
    )
    cands = scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k * refine
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cvec"),
    )
    sim = F.round(cosine_similarity(F.col("_qvec"), F.col("_cvec")), 6)
    exact = cands.join(cvecs, "neighbor_id").select(
        F.col("_qid").alias("query_id"), "neighbor_id", sim.alias("sim")
    )
    return top_k_by_sim(exact, k)


def pq_topk_adc(
    corpus_codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k: rank the packed-code corpus by lookup-table inner
    product, keep the per-query top ``k * refine``, then re-rank those
    survivors with EXACT cosine against the float corpus.

    ``exclude_self=True`` (the default) drops corpus rows whose id
    equals the query id — correct ONLY when queries are drawn from the
    corpus so the two share one id space (the registered
    ``similarity_pq`` shape, like ``exact_ranks_for``). With disjoint
    id domains a coincidental id collision would wrongly drop a
    legitimate neighbor: pass ``exclude_self=False`` there.

    The scan side touches only ``(pq_id, pq_codes)`` — 12 bytes a row
    regardless of dimensionality; the query side carries its
    ``m * ksub`` LUT (built once per query row from literal codebook
    centroids) through a broadcast. The candidate cut is a
    ``Window.partitionBy(query)`` row_number — WindowGroupLimit, fully
    parallel, never a single-partition sort — and only ``k * refine``
    rows per query ever rejoin the float vectors, so the expensive
    exact math runs on a constant-bounded set. Approximation error
    (quantization) costs recall, pinned by tests against brute force;
    returned sims are exact by construction of the re-rank.
    """
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    qvec = F.col(vec_col).cast("array<double>")

    # LUT entry (j, c): <query_sub_j, centroid_{j,c}> — flat array,
    # element j*ksub + c (0-based; element_at is 1-based). Built as
    # nested transforms over ONE literal codebook array (not m*ksub
    # unrolled subtrees — the r9 plan-size fix, see _nearest_code).
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        qvec.alias("_qvec"),
        _query_lut(_vec_sql(vec_col), codebooks, dsub).alias("_lut"),
    )

    # One expression string for the m-term ADC sum (round-12, see
    # _adc_sum_sql — bit-identical left-associative order).
    approx = F.expr(
        _adc_sum_sql(m, ksub, lut_col="_lut", codes_col="pq_codes")
    )

    join_cond = (
        F.col("pq_id") != F.col("_qid") if exclude_self else F.lit(True)
    )
    scored = (
        corpus_codes.join(F.broadcast(q), join_cond)
        .select(
            F.col("_qid"),
            F.col("_qvec"),
            F.col("pq_id").alias("neighbor_id"),
            approx.alias("_approx"),
        )
    )
    return _rerank_shortlist(scored, corpus, k, refine, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ composition (round-9, VERDICT r8 #5): the billion-vector
# production layout — IVF coarse cells with shared PQ residual codebooks
# (Jégou et al., TPAMI 2011, §V "IVFADC"), probe + ADC + exact re-rank.
# ---------------------------------------------------------------------------


def ivfpq_coarse_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids: the ``n_cells``
    corpus vectors with the smallest ``xxhash64(id)`` — the identical
    bounded-sample device ``similarity.ivf_topk`` uses, stable across
    runs and partitionings."""
    rows = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def ivfpq_train_codebooks(
    corpus: DataFrame,
    centroids: list[list[float]],
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    train_rows: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train the SHARED residual codebooks (one codebook set across all
    cells — the standard IVFADC memory/accuracy trade): a deterministic
    bounded sample is collected once, cell-assigned with the SAME dense
    numpy argmin kernel ``ivfpq_encode`` runs (first-index ties;
    assigning the driver-bound sample through the interpreted
    higher-order-function column path would cost ~40 ms/row for rows
    about to be collected anyway), residuals ``v - c_cell`` are formed
    driver-side, and ``_lloyd_driver`` runs the exact bit-pinned Lloyd
    arithmetic per subspace. Training cost is fixed at any corpus scale
    (``train_rows`` caps the collect); encode/search stay fully
    distributed."""
    import numpy as np

    dim = len(centroids[0])
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    if ksub > (1 << CODE_BITS):
        raise ValueError(
            f"ksub must be <= {1 << CODE_BITS} to pack nibbles"
        )
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    sample = (
        corpus.select(F.col(id_col).alias("_id"), vec.alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(train_rows)
    )
    collected = [(r["_id"], list(r["_v"])) for r in sample.collect()]
    _require_sample_rows(len(collected), ksub, "IVF-PQ")
    v_np = np.asarray([v for _i, v in collected], dtype=np.float64)
    cents_np = np.asarray(centroids, dtype=np.float64)
    cells = (
        ((v_np[:, None, :] - cents_np[None, :, :]) ** 2).sum(-1).argmin(1)
    )
    resids = [
        (i, [x - c for x, c in zip(v, centroids[int(cell)])])
        for (i, v), cell in zip(collected, cells)
    ]
    return [
        _lloyd_driver(
            [(i, r[j * dsub : (j + 1) * dsub]) for i, r in resids],
            ksub,
            n_iter,
        )
        for j in range(m)
    ]


def ivfpq_encode(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Encode the corpus as ``(pq_id, cell, pq_codes)`` — the
    billion-vector layout: an INT cell id plus one packed long of ``m``
    nibble codes quantizing the RESIDUAL ``v - c_cell`` against the
    shared codebooks (~20 B a row regardless of dimensionality; the
    floats can be dropped from the hot path after this one scan).

    One shuffle-free Arrow-batched ``mapInPandas`` scan: the full
    coarse-assign -> residual -> per-subspace argmin chain is a dense
    (batch x cells/codes) numpy broadcast. Column-expression forms
    were measured and rejected — Spark evaluates higher-order
    functions (transform/zip_with/aggregate) INTERPRETED per element,
    and the n_cells x dim + m x ksub x dsub lambda evaluations cost
    ~80 ms/row (40.7 s for a 500-row batch vs 2.3 s vectorized,
    bit-identical output incl. argmin's first-index tie rule); the
    unrolled-literal codegen form pays ~40 s of Catalyst
    analysis/codegen per use instead. Exactness: inputs are either e6
    integer micro-units (census path — every product/sum exact in
    float64 regardless of summation order) or raw floats (recall
    path, pinned by bound not bitness).

    ``passthrough`` names extra ``corpus`` columns to carry through the
    encode scan unchanged (e.g. the raw float vector a downstream exact
    verify needs) — the default empty tuple keeps the classic
    ``(pq_id, cell, pq_codes)`` output and plan; with it, consumers
    avoid a batch-sized join-back onto the source just to recover
    columns the scan already held in the same Arrow batch."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cents_np = np.asarray(centroids, dtype=np.float64)
    books_np = np.asarray(codebooks, dtype=np.float64)

    def _encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            d2 = ((v[:, None, :] - cents_np[None, :, :]) ** 2).sum(-1)
            cell = d2.argmin(1)  # first index of min = tie-to-lower
            resid = v - cents_np[cell]
            codes = np.zeros(len(v), dtype=np.int64)
            for j in range(m):
                sub = resid[:, j * dsub : (j + 1) * dsub]
                dd = ((sub[:, None, :] - books_np[j][None, :, :]) ** 2).sum(
                    -1
                )
                codes |= dd.argmin(1).astype(np.int64) << (CODE_BITS * j)
            out = {
                "pq_id": pdf["pq_id"],
                "cell": cell.astype(np.int32),
                "pq_codes": codes,
            }
            for name in passthrough:
                out[name] = pdf[name]
            yield pd.DataFrame(out)

    src = corpus.select(
        F.col(id_col).alias("pq_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        *[F.col(name) for name in passthrough],
    )
    extra = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name not in ("pq_id", "_vec")
    )
    return src.mapInPandas(
        _encode, schema=f"pq_id long, cell int, pq_codes long{extra}"
    )


def ivfpq_topk_adc(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    keep_col: str | None = None,
) -> DataFrame:
    """IVFADC top-k: probe the ``n_probe`` nearest cells per query,
    score only THOSE cells' packed codes by ``<q, c_cell> + Σ_j
    LUT[j][code_j]`` (the residual decomposition of the inner product),
    keep the per-query top ``k * refine``, re-rank exactly by cosine.

    ``keep_col`` (round-11): name of a boolean column on ``encoded``
    applied AFTER the probe join — the "post" strategy of a filtered
    search against an index whose cells cannot prune by the predicate
    (``similarity.ivf_topk_filtered`` documents the recall crossover).
    The "pre" strategy needs no hook: filter ``encoded`` before calling
    and the predicate reaches the code scan.

    Scale shape — the piece neither rung had alone: candidate
    generation is an EQUI-JOIN on the cell id (the IVF cut: roughly
    ``n_probe/n_cells`` of the corpus is ever scored), and the scored
    side reads only the ~20-byte code rows (the PQ cut: no floats in
    the scan). The query side broadcasts its per-query ``m*ksub`` LUT
    and per-probe coarse inner product; the candidate cut is a
    WindowGroupLimit, never a single-partition sort; only ``k*refine``
    rows a query rejoin the float corpus for the exact re-rank. Recall
    < 1 by construction — pinned by the ``ivfpq_recall_bound``
    contract; returned sims are exact (re-ranked)."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    qvec = F.col(vec_col).cast("array<double>")

    # Per-query probe list: n_probe nearest cells by squared L2 (the
    # assignment metric), each carrying its coarse term <q, c_cell>.
    # One 2-arg transform over the literal centroid array (constant
    # expression tree; struct sort ties break on the cell index).
    # Round-12: the whole probe tree is ONE SQL expression string (see
    # _query_lut — same py4j-boundary rationale, same parsed
    # expressions: named_struct fields in (d, cell, coarse) order keep
    # the array_sort tie-break identical).
    qs = _vec_sql(vec_col)
    cent_sql = doubles_sql(centroids)
    probes = F.expr(
        f"slice(array_sort(transform({cent_sql}, (cvec, i) -> "
        f"named_struct("
        f"'d', aggregate(zip_with({qs}, cvec, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v), "
        f"'cell', CAST(i AS INT), "
        f"'coarse', aggregate(zip_with({qs}, cvec, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v)))), 1, {int(n_probe)})"
    )

    # Shared-codebook LUT: entry j*ksub + c = <q_j, codebook_j[c]> —
    # cell-independent because codebooks quantize residuals against
    # one shared set (the IVFADC trade).
    q = (
        queries.select(
            F.col(query_id_col).alias("_qid"),
            qvec.alias("_qvec"),
            _query_lut(qs, codebooks, dsub).alias("_lut"),
            F.explode(probes).alias("_p"),
        )
        .select(
            "_qid",
            "_qvec",
            "_lut",
            F.col("_p.cell").cast("int").alias("cell"),
            F.col("_p.coarse").alias("_coarse"),
        )
    )

    # One expression string for `_coarse + Σ_j LUT[j][code_j]` —
    # left-associative in the original term order (bit-identical).
    approx = F.expr(
        _adc_sum_sql(m, ksub, "_coarse", lut_col="_lut", codes_col="pq_codes")
    )
    joined = encoded.join(F.broadcast(q), "cell")
    if keep_col is not None:
        joined = joined.filter(F.col(keep_col))
    scored = joined.select(
        "_qid",
        "_qvec",
        F.col("pq_id").alias("neighbor_id"),
        approx.alias("_approx"),
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("_qid"))
    return _rerank_shortlist(scored, corpus, k, refine, id_col, vec_col)
