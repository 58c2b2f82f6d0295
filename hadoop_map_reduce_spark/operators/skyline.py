"""Distributed skyline (Pareto frontier) over arbitrary min/max dimensions.

A row is on the skyline iff no other row *dominates* it: another row that
is at-least-as-good on every dimension and strictly better on at least
one. The reference engine (a 3-file Hadoop MapReduce job, SURVEY.md §0)
has nothing comparable; this belongs to the generalized analytic surface
(SURVEY.md §7.1).

Scale design — the skyline operator exploits the algebraic property
``skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))``:

1. **Local phase**: every input partition computes its own frontier with
   an Arrow-batched ``mapInPandas`` (vectorized NumPy dominance tests,
   incremental frontier carried across batches within the partition).
   This is a full-scan, shuffle-free reduction; output size per
   partition is the partition's frontier (typically tiny for
   correlated / independent dimensions).
2. **Merge phase**: the union of local frontiers — now candidate-sized —
   is coalesced to one partition and the same kernel runs once more.

At 100 TB the local phase does all the data-sized work in parallel with
zero shuffle; the single-partition merge sees only
``num_partitions × |local frontier|`` rows. Caveat (documented, not
hidden): for adversarially anti-correlated dimensions the frontier
itself is large and the merge partition becomes the bottleneck — the
standard fix is a grid-partitioned pre-merge stage, which this operator
does not need for the registered workloads.

Dominance convention: every dimension is normalized to "lower is
better" by negating ``max`` dimensions, so ``p`` dominates ``q`` iff
``all(p <= q) and any(p < q)``. Duplicate points (equal on every
dimension) never dominate each other — all copies are kept, matching
the ``NOT EXISTS`` SQL formulation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

#: Rows per vectorized dominance block; bounds the m×k×d broadcast temp.
_CHUNK = 4096


def _dominates(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Boolean matrix D[i, j] = row a[i] dominates row b[j] (min-normalized)."""
    le = (a[:, None, :] <= b[None, :, :]).all(axis=2)
    lt = (a[:, None, :] < b[None, :, :]).any(axis=2)
    return le & lt


def _frontier_update(
    kept: pd.DataFrame | None,
    kept_m: np.ndarray | None,
    chunk: pd.DataFrame,
    chunk_m: np.ndarray,
) -> tuple[pd.DataFrame, np.ndarray]:
    """Incrementally merge one chunk into the running frontier.

    Three vectorized passes: (1) drop chunk rows dominated by the kept
    frontier, (2) drop chunk rows dominated within the chunk, (3) drop
    kept rows dominated by the surviving chunk — a later point may
    dominate an earlier acceptance, so the kept set must be re-checked.
    """
    if kept_m is not None and len(kept_m):
        alive = ~_dominates(kept_m, chunk_m).any(axis=0)
        chunk, chunk_m = chunk.iloc[alive], chunk_m[alive]
    if len(chunk_m) > 1:
        alive = ~_dominates(chunk_m, chunk_m).any(axis=0)
        chunk, chunk_m = chunk.iloc[alive], chunk_m[alive]
    if kept_m is None or not len(kept_m):
        return chunk.copy(), chunk_m
    if not len(chunk_m):
        return kept, kept_m
    alive_kept = ~_dominates(chunk_m, kept_m).any(axis=0)
    return (
        pd.concat([kept.iloc[alive_kept], chunk], ignore_index=True),
        np.concatenate([kept_m[alive_kept], chunk_m]),
    )


def skyline(
    df: DataFrame, dims: list[tuple[str, Literal["min", "max"]]]
) -> DataFrame:
    """Pareto frontier of ``df`` over ``dims`` (column, 'min'|'max').

    All input columns pass through unchanged; only frontier rows are
    emitted. Plan shape: mapInPandas (parallel local frontiers) →
    coalesce(1) → mapInPandas (candidate merge); no join, no shuffle of
    the full input.

    Exactness: when every dimension is an integral Spark type, the
    dominance matrix stays ``int64`` — comparisons are exact for the
    full 64-bit range (matching the NOT EXISTS SQL semantics; sole edge:
    a literal -2**63 in a ``max`` dim wraps on negation). Float/decimal
    dimensions — and integral dims in Arrow batches that carry NULLs,
    which pandas surfaces as float64+NaN — go through float64, where
    integers above 2**53 collapse to the same double and can produce
    false ties/dominations. NaN dims (from NULLs) neither dominate nor
    are dominated, matching SQL three-valued NOT EXISTS.
    """
    if not dims:
        raise ValueError("skyline needs at least one dimension")
    missing = [c for c, _ in dims if c not in df.columns]
    if missing:
        raise ValueError(f"skyline dims not in DataFrame: {missing}")
    from pyspark.sql.types import IntegralType

    all_int = all(
        isinstance(df.schema[c].dataType, IntegralType) for c, _ in dims
    )
    sign_list = [1 if direction == "min" else -1 for _, direction in dims]
    int_signs = np.array(sign_list, dtype=np.int64)
    float_signs = np.array(sign_list, dtype=np.float64)
    cols = [c for c, _ in dims]

    def local_frontier(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        kept: pd.DataFrame | None = None
        kept_m: np.ndarray | None = None
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                chunk = pdf.iloc[lo : lo + _CHUNK]
                arr = chunk[cols].to_numpy()
                if all_int and arr.dtype.kind in "iu":
                    chunk_m = arr.astype(np.int64, copy=False) * int_signs
                else:
                    chunk_m = arr.astype(np.float64, copy=False) * float_signs
                kept, kept_m = _frontier_update(kept, kept_m, chunk, chunk_m)
        if kept is not None and len(kept):
            yield kept

    local = df.mapInPandas(local_frontier, schema=df.schema)
    return local.coalesce(1).mapInPandas(local_frontier, schema=df.schema)


def skyline_grid(
    df: DataFrame,
    dims: list[tuple[str, Literal["min", "max"]]],
    grid_partitions: int = 32,
    max_candidate_rows: int = 200_000,
) -> DataFrame:
    """Pareto frontier with a PARALLEL merge — the anti-correlated-
    dimensions variant of :func:`skyline`.

    :func:`skyline` merges all local frontiers on ONE task
    (``coalesce(1)``), which is right when frontiers are tiny but
    becomes the bottleneck when dimensions anti-correlate and the
    frontier is a large fraction of the input (the caveat documented on
    the plain operator). This variant keeps the merge distributed:

    1. **Grid phase**: range-partition on the first dimension
       (``repartitionByRange`` — cheap, single shuffle of the already
       column-pruned input) so each task owns a value slab; run the
       same vectorized local-frontier kernel per slab. Range slabs make
       local pruning effective even when the GLOBAL frontier is huge:
       within a slab, dim-1 values are close, so slab-local dominance
       removes the points that a hash partitioning would keep.
    2. **Verify phase**: the union of slab frontiers is the candidate
       set; broadcast its dimension matrix to every task and drop, in
       parallel, each candidate dominated by any other candidate.
       ``skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))`` makes this
       exact; work is |candidates|² element ops spread over
       ``grid_partitions`` tasks instead of one.

    The broadcast matrix is collected on the driver first, so the
    candidate count is ENFORCED against ``max_candidate_rows`` (count +
    raise BEFORE the collect, so an oversized frontier fails with a
    named error instead of exhausting driver memory) — beyond it, a
    frontier that large should flow into a grid-cogroup all-pairs stage
    (``embedding_neardup``'s block-grid pattern) rather than a broadcast.
    """
    if not dims:
        raise ValueError("skyline needs at least one dimension")
    missing = [c for c, _ in dims if c not in df.columns]
    if missing:
        raise ValueError(f"skyline dims not in DataFrame: {missing}")
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType

    all_int = all(
        isinstance(df.schema[c].dataType, IntegralType) for c, _ in dims
    )
    sign_list = [1 if direction == "min" else -1 for _, direction in dims]
    int_signs = np.array(sign_list, dtype=np.int64)
    float_signs = np.array(sign_list, dtype=np.float64)
    cols = [c for c, _ in dims]

    def normalize(arr: np.ndarray) -> np.ndarray:
        if all_int and arr.dtype.kind in "iu":
            return arr.astype(np.int64, copy=False) * int_signs
        return arr.astype(np.float64, copy=False) * float_signs

    def local_frontier(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        kept: pd.DataFrame | None = None
        kept_m: np.ndarray | None = None
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                chunk = pdf.iloc[lo : lo + _CHUNK]
                chunk_m = normalize(chunk[cols].to_numpy())
                kept, kept_m = _frontier_update(kept, kept_m, chunk, chunk_m)
        if kept is not None and len(kept):
            yield kept

    from hadoop_map_reduce_spark.operators.caching import cache_one_slot

    local = df.repartitionByRange(
        grid_partitions, F.col(cols[0])
    ).mapInPandas(local_frontier, schema=df.schema)
    # One-slot persist: local feeds count + driver collect + the verify
    # map; without it each consumer re-runs the frontier scan, and the
    # slot discipline keeps exactly one cached copy across invocations.
    local = cache_one_slot(local, "skyline_grid_local")
    n_cand = local.count()
    if n_cand > max_candidate_rows:
        raise ValueError(
            f"skyline_grid: {n_cand} frontier candidates exceed the "
            f"broadcast ceiling ({max_candidate_rows}); the frontier is "
            "a large fraction of the input — raise max_candidate_rows "
            "if executors can hold the matrix, or use a grid-cogroup "
            "all-pairs verify"
        )
    cand_m = normalize(
        np.asarray(local.select(*cols).toPandas()[cols].to_numpy())
    )
    bc = df.sparkSession.sparkContext.broadcast(cand_m)

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand = bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), _CHUNK):
                chunk = pdf.iloc[lo : lo + _CHUNK]
                chunk_m = normalize(chunk[cols].to_numpy())
                alive = np.ones(len(chunk_m), dtype=bool)
                # Block the candidate axis too: the m×k×d dominance temp
                # stays ~_CHUNK² per block, and a chunk whose rows are
                # all dead stops scanning early.
                for clo in range(0, len(cand), _CHUNK):
                    alive &= ~_dominates(
                        cand[clo : clo + _CHUNK], chunk_m
                    ).any(axis=0)
                    if not alive.any():
                        break
                if alive.any():
                    yield chunk.iloc[alive]

    return local.mapInPandas(verify, schema=df.schema)
