"""Tracked eager localCheckpoint with an explicit release handle and
counters observed on the checkpoint's own action.

Iterative operators (BPE training, connected components, Lloyd k-means)
truncate their growing lineage with an eager ``localCheckpoint`` every
iteration. The checkpoint blocks are RDD-level persists, and
``DataFrame.unpersist()`` does NOT free them (it only uncaches
cache-manager entries — verified empirically on Spark 4: the persistent
RDD count is unchanged after ``df.unpersist()``). Without an explicit
release, n_iterations copies of the working set accumulate in
block-manager storage for the life of the session — on a 1000-executor
cluster iterating over a 100 TB working set, that is an executor-memory
leak, not a nicety.

The only reliable handle on the checkpoint blocks is the persisted RDD
registered in ``SparkContext.getPersistentRDDs`` during the checkpoint
call, so :func:`local_checkpoint` snapshots the persisted-id set around
the call and returns a ``release()`` closure that unpersists exactly the
ids the checkpoint created. After ``release()``, the checkpointed
DataFrame itself is unusable (its lineage was truncated) — callers must
only release iteration N's checkpoint after iteration N+1's checkpoint
has materialized (``eager=True`` guarantees that on return).

Observed counters. The iterative operators steer on scalars of the
frame they just checkpointed: a row count (k-core's kept set and edge
list), a sum (PageRank's rank mass), a set checksum (log-round
connected components), a changed-label count. Reading one with a
separate ``count()``/``agg`` costs a job or two per round over data the
checkpoint action has just streamed. :func:`local_checkpoint` instead
takes named aggregate expressions, wraps the frame in
``DataFrame.observe`` with a fresh ``Observation`` per call, and returns
the aggregates' values with the checkpoint: 0 extra jobs, 0 extra scans.

Why the observed values are exact, retries included. The observe node
is the ROOT of the checkpointed plan, so its ``CollectMetricsExec``
runs in the result stage of the checkpoint job: no exchange sits above
it, and AQE cannot split it into a map stage. Each task ships a partial
aggregate as an accumulator update, and the DAG scheduler merges a
result task's accumulator updates only for the first successful attempt
of each partition (``job.finished(outputId)`` guards the merge), so a
retried or speculative duplicate of a result task is never counted
twice. A shuffle-map stage gives no such guarantee (every successful
attempt merges), which is why the observe node must never sit below an
exchange. One window stays open: a checkpoint block lost between the
checkpoint job and Spark's check that every partition is stored (an
executor lost in that instant) is recomputed by a second job, which
observes that partition again; readers of a local checkpoint fail on
such a loss anyway. A frame with no rows, or a plan that AQE prunes to
zero partitions, leaves the accumulator at its initial buffer:
``count`` is 0 and ``sum``/``bit_xor`` are null, the same values a
direct ``agg`` returns on an empty frame.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def _persisted_ids(sc) -> set[int]:
    it = sc._jsc.sc().getPersistentRDDs().toList().iterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _unpersist_ids(sc, ids: set[int]) -> None:
    if getattr(sc, "_jsc", None) is None:
        return  # context already stopped; its blocks died with it
    m = sc._jsc.sc().getPersistentRDDs()
    for rid in ids:
        if m.contains(rid):
            m.apply(rid).unpersist(False)


def local_checkpoint(
    df: DataFrame, **counters: Column
) -> tuple[DataFrame, Callable[[], None], dict]:
    """Eagerly localCheckpoint ``df``; return ``(checkpointed, release,
    observed)``.

    ``counters`` maps a name to an aggregate expression over ``df``
    (e.g. ``n=F.count(F.lit(1))``); ``observed`` maps each name to its
    value over the checkpointed rows, computed by the checkpoint's own
    job (see the module docstring). With no counters, ``observed`` is
    empty.

    ``release()`` frees the checkpoint's block-manager storage. It is
    idempotent and safe to call after the session has moved on, but the
    checkpointed DataFrame (and anything built on it that has not itself
    been materialized) must not be executed afterwards.
    """
    sc = df.sparkSession.sparkContext
    obs = None
    if counters:
        obs = Observation()
        df = df.observe(obs, *(c.alias(n) for n, c in counters.items()))
    before = _persisted_ids(sc)
    cp = df.localCheckpoint(eager=True)
    created = _persisted_ids(sc) - before

    def release() -> None:
        _unpersist_ids(sc, created)

    return cp, release, obs.get if obs is not None else {}
