"""``load_table`` caches the inferred parquet schema under a key of the
path, every file's ``(size, mtime_ns)`` and the inference confs: a warm
load runs no Spark job, and a table rewritten in place is inferred
again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_map_reduce_spark.session import load_table


def _jobs(spark, fn):
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    out = fn()
    return out, scheduler.numTotalJobs() - before


def test_unchanged_table_is_inferred_once(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    (first, second), jobs = _jobs(
        spark,
        lambda: (
            load_table(spark, str(tmp_path), "t"),
            load_table(spark, str(tmp_path), "t"),
        ),
    )
    assert jobs == 1
    assert first.schema == second.schema


def test_table_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 1  # the new file changed the key: inferred again
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
