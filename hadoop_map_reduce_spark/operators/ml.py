"""Iterative ML over embedding columns: deterministic Lloyd's k-means.

The reference engine has no ML surface; this extends the engine the same
way the dedup/similarity operators do — an iterative algorithm expressed
as repeated declarative passes, the pattern a 100-TB training-data
pipeline needs for corpus clustering (topic balancing, dedup-cluster
seeding, IVF coarse quantizers; ``similarity._assign_cells_blas`` uses
the one-shot variant of the same assignment step).

Determinism discipline (what makes the result testable and reproducible
across partitionings, the same rule as ``plans.relational_queries.
exact_sum``): centroid updates sum exact scaled integers, never floats,
so partial-aggregation order cannot change a centroid bit; distance
evaluation is a fixed-order fold over the vector; argmin ties break to
the lowest cluster index. A pure-Python recomputation must match exactly
(``tests/test_ml_queries.py``).

Scale shape per iteration: one scan of the vectors, one k*d-key shuffle
(map-side partial agg does almost all the work), one k*d-size collect to
the driver. Nothing else leaves the executors; the vectors themselves
are never shuffled. k*d stays driver-small (thousands), n scales freely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.functions.vectors import lit_doubles

#: Fixed-point scale for centroid means (micro-units), matching the
#: engine-wide exact-aggregate discipline.
SCALE = 1_000_000


def _sqdist(vec, centroid: list[float]):
    """Squared L2 distance between an array<double> column and a Python
    centroid, as a deterministic left-to-right fold (no reduction-order
    ambiguity — ``F.aggregate`` folds sequentially)."""
    carr = lit_doubles(centroid)
    return F.aggregate(
        F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add a ``cluster`` column: index of the nearest centroid (squared
    L2, ties to the lowest index via first-occurrence array_position)."""
    vec = F.col(vec_col).cast("array<double>")
    dists = F.array(*[_sqdist(vec, c) for c in centroids])
    cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.withColumn("cluster", cluster)


def assign_clusters_blas(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Vectorized twin of :func:`assign_clusters` for large k*d.

    The Catalyst-fold version generates k fold expressions of d terms each
    — exact and whole-stage-codegen'd, but the generated code grows with
    k*d (fine at 8x64, not at 1024x1024). This twin ships the centroid
    matrix into an Arrow-batched ``mapInPandas`` and computes
    ``argmin(||x||^2 - 2 x C^T + ||c||^2)`` with one numpy matmul per
    batch. Same per-row independence (no shuffle); float reduction order
    differs from the fold, so assignments can differ only on exact
    distance ties — parity is test-pinned (``tests/test_ml_queries.py``).
    Mirrors the fold reference / grid-BLAS pair of
    ``operators/similarity.py``.
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    fields = df.schema.fieldNames()
    # A fresh StructType — StructType.add would mutate the DataFrame's
    # cached schema object in place and corrupt later column resolution.
    out_schema = StructType(
        list(df.schema.fields) + [StructField("cluster", IntegerType())]
    )
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = (cmat * cmat).sum(axis=1)

    def _assign(batches):
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(x) == 0:
                continue
            # ||x||^2 is constant per row — argmin doesn't need it.
            d2 = cnorm[None, :] - 2.0 * (x @ cmat.T)
            pdf = pdf.copy()
            pdf["cluster"] = d2.argmin(axis=1).astype("int32")
            yield pdf

    return df.mapInPandas(_assign, schema=out_schema).select(
        *fields, "cluster"
    )


#: Above this k*d, kmeans assignment switches from the Catalyst fold
#: (codegen grows with k*d; measured 13.7 s at k=31 and 22 s at k=78,
#: d=64, sf0.1 — the fold is the bottleneck well before k=32) to the
#: vectorized BLAS twin (one numpy matmul per Arrow batch; 6 s for the
#: ENTIRE dedup_semantic at 10x data, k=312). Both are deterministic;
#: they can differ only on exact-distance ties (the parity pin in
#: tests/test_ml_queries.py). The driver/test scales (k=8, d=64 → 512)
#: stay on the fold path, so the bit-for-bit pure-Python recomputation
#: tests pin the exact path unchanged.
ASSIGN_BLAS_MIN_KD = 1024


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 5,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's k-means: returns (assigned df, centroids).

    Init is the k lowest-``id_col`` vectors (no RNG — reproducible across
    runs and engines). Exactly ``n_iter`` update rounds run; convergence
    is not early-checked so the iteration count — and therefore the
    result — is a pure function of the input.

    Empty clusters keep their previous centroid (possible when k exceeds
    the natural cluster count); the mean is exact-integer as described in
    the module docstring.

    Assignment uses the exact Catalyst fold for small k*d and the
    vectorized BLAS twin above ``ASSIGN_BLAS_MIN_KD`` — without the
    switch, auto-scaled k (dedup_semantic's n/k invariant) makes the
    generated fold code itself the bottleneck at scale.
    """
    vec = F.col(vec_col).cast("array<double>")
    # Deterministic seed: k lowest ids. At scale this is a tiny top-k
    # (TakeOrdered), not a sort.
    seed_rows = (
        df.select(id_col, vec.alias("_v")).orderBy(id_col).limit(k).collect()
    )
    centroids = [list(r["_v"]) for r in seed_rows]
    dim = len(centroids[0]) if centroids else 0
    assign = (
        assign_clusters_blas
        if k * dim > ASSIGN_BLAS_MIN_KD
        else assign_clusters
    )

    exploded = None
    for _ in range(n_iter):
        assigned = assign(df, centroids, vec_col)
        exploded = assigned.select(
            "cluster", F.posexplode(vec).alias("pos", "_x")
        )
        agg = (
            exploded.groupBy("cluster", "pos")
            .agg(
                F.sum(F.round(F.col("_x") * SCALE).cast("long")).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        by_cluster: dict[int, dict[int, float]] = {}
        for r in agg:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = (
                float(r["_s"]) / r["_n"] / SCALE
            )
        for ci, dims in by_cluster.items():
            for pos, v in dims.items():
                new_centroids[ci][pos] = v
        centroids = new_centroids

    return assign(df, centroids, vec_col), centroids
