"""Partitioned ``key<TAB>value`` text sink (reference O9/O10/O13 parity).

The reference writes one sorted text file per reduce partition plus a
``_SUCCESS`` marker (TextOutputFormat, WordCountV2.java:49,53; artifacts
``bigram_custom8/part-r-00000..00031``). Both modes write exactly
``num_partitions`` files ``part-00000..`` (empty partitions included,
like TextOutputFormat), each sorted by ``(key, value)``, through one
JVM-only pipeline: ``repartitionById`` on a partition-id column, then
``sortWithinPartitions`` and ``saveAsTextFile``. The mode only picks the
partition id:

- default (Spark-native): ``pmod(hash(k), n)``, the murmur3 placement
  ``repartition(n, k)`` gives.
- ``hadoop_layout=True``: Hadoop ``HashPartitioner`` over
  ``Text.hashCode`` (:func:`hadoop_partition_col`), the exact key→file
  assignment of the reference's golden artifacts.

A null value writes the key alone, with no tab, as TextOutputFormat does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_map_reduce_spark.functions.hashing import hadoop_partition_col


def write_kv_text(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    num_partitions: int = 32,
    sort_within: bool = True,
    hadoop_layout: bool = False,
) -> None:
    """Write ``key<TAB>value`` lines, one file per hash partition.

    Emits Spark's ``_SUCCESS`` marker (same Hadoop output-committer
    behavior as the reference). An existing target directory is replaced:
    ``saveAsTextFile`` has no overwrite mode, so the target is cleared
    through Hadoop's FileSystem API (any supported scheme, not just local
    paths).
    """
    jvm = df.sparkSession._jvm
    jsc = df.sparkSession.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)

    kv = df.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(value_col).cast("string").alias("v"),
    )
    # A repartitionById shuffle is neither elided by EnsureRequirements
    # nor coalesced by AQE, so every partition id keeps its own file.
    pid = (
        hadoop_partition_col(F.col("k"), num_partitions)
        if hadoop_layout
        else F.pmod(F.hash("k"), F.lit(num_partitions))
    )
    out = kv.repartitionById(num_partitions, pid)
    if sort_within:
        out = out.sortWithinPartitions("k", "v")
    lines = out.select(F.concat_ws("\t", "k", "v"))
    rdd = getattr(lines._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING()).javaRDD()
    if rdd.getNumPartitions() == 0:
        # The optimizer (or AQE, once the shuffle ran) prunes an empty
        # input to an empty relation, which has no partitions at all.
        rdd = rdd.repartition(num_partitions)
    rdd.saveAsTextFile(path)
