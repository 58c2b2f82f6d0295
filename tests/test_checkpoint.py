"""Tracked localCheckpoint: release() must actually free block-manager
storage (DataFrame.unpersist does not — it only uncaches cache-manager
entries), and the iterative operators built on it must not accumulate
one persisted RDD per iteration."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_map_reduce_spark.checkpoint import _persisted_ids, local_checkpoint


def _n_persisted(spark) -> int:
    return len(_persisted_ids(spark.sparkContext))


def test_release_frees_blocks_and_successor_survives(spark):
    base = _n_persisted(spark)
    df = spark.range(100).withColumn("y", F.col("id") * 2)
    cp1, release1, _ = local_checkpoint(df)
    assert _n_persisted(spark) == base + 1
    cp2, release2, _ = local_checkpoint(cp1.withColumn("y", F.col("y") + 1))
    assert _n_persisted(spark) == base + 2
    release1()
    assert _n_persisted(spark) == base + 1
    # The successor checkpoint materialized before the release, so it
    # must still be fully usable.
    assert cp2.count() == 100
    release1()  # idempotent
    release2()
    assert _n_persisted(spark) == base


def test_bpe_train_leaves_no_persisted_rdds(spark):
    from hadoop_map_reduce_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string",
    )
    base = _n_persisted(spark)
    merges = bpe_train(docs, n_merges=6)
    assert len(merges) == 6
    assert _n_persisted(spark) == base


def test_connected_components_leaves_one_persisted_rdd(spark):
    """Only the FINAL label checkpoint (backing the returned DataFrame)
    may remain; intermediate iterations must be freed."""
    from hadoop_map_reduce_spark.operators.clustering import (
        connected_components,
    )

    # A chain 0-1-2-...-9 needs several propagation iterations.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    base = _n_persisted(spark)
    comp = connected_components(pairs)
    rows = {(r.node, r.component) for r in comp.collect()}
    assert rows == {(i, 0) for i in range(10)}
    assert _n_persisted(spark) <= base + 1


def _counters():
    return {
        "n": F.count(F.lit(1)),
        "s": F.sum("x"),
        "h": F.bit_xor(F.xxhash64("id")),
    }


def _direct(df) -> dict:
    row = df.agg(*(c.alias(n) for n, c in _counters().items())).first()
    return row.asDict()


def _frames(spark):
    def ranged(n, parts):
        return spark.range(0, n, numPartitions=parts).withColumn(
            "x", F.col("id") % 7 - 3
        )

    # A join whose build side turns out empty at run time: AQE replaces
    # the whole plan with an empty relation of zero partitions.
    empty_side = ranged(50, 2).filter(F.col("x") > 100).select("id")
    pruned = ranged(200, 4).join(empty_side, "id")
    return {
        "empty": ranged(0, 1),
        "aqe_pruned": pruned,
        "parts1": ranged(1000, 1),
        "parts8": ranged(1000, 8),
        "parts32": ranged(1000, 32),
    }


def test_observed_counters_equal_direct_aggregates(spark):
    """Observed count/sum/bit_xor equal the same aggregates run directly
    on the checkpointed frame, including empty and zero-partition
    frames (count 0, sum and bit_xor null, exactly as ``agg``)."""
    for label, df in _frames(spark).items():
        cp, release, seen = local_checkpoint(df, **_counters())
        try:
            assert seen == _direct(cp), label
            if label == "aqe_pruned":
                assert cp.rdd.getNumPartitions() == 0
            if label in ("empty", "aqe_pruned"):
                assert seen == {"n": 0, "s": None, "h": None}
        finally:
            release()


def test_observed_counters_add_no_jobs(spark):
    """The counters ride the checkpoint's own job: a counted checkpoint
    runs exactly as many Spark jobs as a bare one."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(**counters) -> int:
        df = (
            spark.range(0, 1000, numPartitions=8)
            .withColumn("x", F.col("id") % 7)
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("id"))
        )
        before = scheduler.numTotalJobs()
        _, release, seen = local_checkpoint(df, **counters)
        n = scheduler.numTotalJobs() - before
        release()
        assert len(seen) == len(counters)
        return n

    bare = jobs()
    assert bare >= 1
    assert jobs(**_counters()) == bare
